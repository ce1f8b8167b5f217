"""Scale-stress the dedup/ANN family one notch past the bench SF.

Builds a 10x replica of the sf0.1 ``documents``/``embeddings`` tables
(text tokens suffixed per replica so within-replica duplicate
structure is preserved EXACTLY while cross-replica shingles never
collide — duplicate density stays constant, data volume scales 10x;
embeddings perturbed per replica the same way), then runs the heavy
bucketed operators at 1x and 10x, recording wall time, output rows,
and the bucket-size maxima that decide whether the "banded/bucketed,
never all-pairs" claims hold off the toy scale:

- minhash LSH: max rows in one (band, band_key) bucket — the largest
  unit of quadratic work the band join can do;
- semantic dedup: max coarse-cluster size — the largest within-cluster
  pair block;
- IVF-PQ: max rows in one probed inverted list.

Usage: python tools/scale_stress.py [--rebuild]
Prints a markdown table for SCALE.md plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = "/tmp/deftunes_scale10"
SCALE_DIR_100 = "/tmp/deftunes_scale100"
REPLICAS = 10

QUERIES = [
    "dedup_minhash_fast",
    "dedup_incremental_fast",
    "ann_ivfpq_topk",
    "semantic_dedup",
    "semantic_dedup_auto",
    # r6 scale-path additions: sketch overlap (per-group KMV state),
    # Bloom benchmark screen (d×w bit state), count-min heavy hitters
    # (d×w counter state), and the packing window (shard-partitioned
    # cumsum) — each claims bounded state; the 10× ratio checks it.
    "source_overlap_minhash",
    "decontamination_bloom",
    "hot_ngrams_cms",
    "sequence_pack",
    # r7 additions: prefix-filtered exact similarity join (candidate
    # space must track duplicate density, not corpus²), DSIR scoring
    # (model state fixed at n_buckets rows), Zipf fit (head is a
    # constant-size TakeOrdered).
    "dedup_prefix_filter",
    "dsir_importance",
    "zipf_rank_frequency",
    # r8 additions: perceptual-hash near-dup (banded Hamming join —
    # the 10× ratio checks the birthday-collision term n²·k/2^width of
    # fixed-width bands on avalanche-random hashes) and incremental
    # ANN assignment (store is n_lists rows at any scale; assignment
    # rides the arrow path past the coeff cutoff).
    "multimodal_phash_dedup",
    "ann_incremental",
    # r9 additions (r8 verdict #5/#3): the SFT family — the replica
    # protocol now scales EVENTS too (disjoint user/event ids per
    # replica: 10× dialogs, unchanged per-dialog length), so the
    # pure-expression claim gets measured instead of excluded; plus
    # the distributed BPE apply (merge table broadcast, zero shuffle —
    # the ratio checks linear-in-tokens).
    "sft_turn_flatten",
    "sft_role_audit",
    "sft_loss_mask_spans",
    "bpe_encode",
    # r10 additions (r9 verdict #5/#3): the preference/RLHF family —
    # the dedup row is the interesting one (the distinct-prompt
    # relation grows with the corpus and the shingle join inherits
    # the df-cap guard), FIM (pure projection, the ratio checks
    # linear-in-bytes), and the probes-mode Hamming candidate scheme.
    "preference_pair_audit",
    "preference_pair_dedup",
    "best_of_n_selection",
    "fim_transform",
    "dedup_simhash_probes",
    # r10 batch 2: the unigram-LM apply (closure-shipped piece table,
    # zero shuffle — the ratio checks linear-in-tokens like the BPE
    # row), the sparse per-language KL (observed cells + scalar
    # broadcasts — the ratio checks the vocab rollup stays the cost,
    # never a groups×vocab grid), and the shingle doc-frequency
    # novelty rollup (keyed agg+join — near-linear like the other
    # shingle families).
    "unigram_encode_roundtrip",
    "unigram_kl_divergence",
    "ngram_novelty",
    # r11 additions (r10 verdict #4): the never-stressed heavyweights.
    # shard_export_manifest: the one op with a real file write — the
    # ratio checks the one-shuffle export and whether one-file-per-
    # shard serializes (n_shards is caller-sized; the escape hatch is
    # raising it, documented in SCALE.md). reward_margin_calibration:
    # n_bins groups at any corpus. pagerank_sales/graph_triangles:
    # fixed supersteps / per-order pair joins over a LINEARLY GROWING
    # edge list (the replica builder now scales orders+lineitem with
    # disjoint ids). events_windowed_rollup: availableNow streaming
    # over the scaled events replica. bpe_byte_roundtrip: the
    # byte-fallback encode→decode chain (linear-in-bytes claim).
    # pretrain_pipeline_e2e: the composed filter→dedup→mixture→
    # tokenize→pack→export chain — the whole-pipeline wall at scale.
    "shard_export_manifest",
    "reward_margin_calibration",
    "pagerank_sales",
    "graph_triangles",
    "events_windowed_rollup",
    "bpe_byte_roundtrip",
    "pretrain_e2e_scaled",
    # The triangle closing past the broadcast ceiling (chunked,
    # bounded disk — how does "slow but working" actually scale?) and
    # the bucketed-edge PageRank (scatter join co-located on the bucket
    # layout; the write is session setup, excluded by the warm-run like
    # the BPE trainer).
    "graph_triangles_chunked",
    "pagerank_bucketed",
    # r12: duplicate-n-gram fractions — keyed (doc, gram) aggregation,
    # the explode+groupBy shape whose per-task work must track the
    # shuffle partition, not the longest row.
    "gopher_ngram_repetition",
]

# Output-bound queries (full rewritten text / per-turn rows / token
# streams): collecting millions of fat rows to the Python driver
# times the TRANSFER, not the operator. These are timed under a
# forced-computation aggregate instead — count + sum(xxhash64(*cols))
# over every output column, which materializes every byte the query
# produces and ships ONE row. r10 protocol: the SFT rows are
# re-recorded under it at every tier this round (r9's collect-based
# rows are not comparable across protocols — noted in SCALE.md).
FORCED_AGG = {
    "fim_transform",
    "bpe_encode",
    "unigram_encode_roundtrip",
    "ngram_novelty",
    "sft_turn_flatten",
    "sft_role_audit",
    "sft_loss_mask_spans",
    "preference_pair_audit",
    "best_of_n_selection",
    # r11: decoded full text per doc — output-bound like the encodes.
    "bpe_byte_roundtrip",
}

# r6 verdict #3: a second decade. The 100× tier runs the flagship
# SCALE-PATH operators only (the md5/fixed-literal oracle-mirror
# configs are deliberately excluded — their quantizers/hashes exist
# for the DuckDB twin, not for 100 TB). `ann_knn_auto` is the
# production retrieval-join configuration (auto-sized quantizer +
# grouped-BLAS kernel + hot-cluster guard) registered stress-locally
# below; the fixed-literal `ann_knn_join_fast` would put ~all rows in
# a handful of clusters — quadratic by construction, the exact shape
# the nlist ∝ corpus rule exists to forbid.
FLAGSHIP_100X = [
    "dedup_minhash_fast",
    "semantic_dedup_auto",
    "ann_knn_auto",
    "decontamination_bloom",
    "hot_ngrams_cms",
    "sequence_pack",
    # r10 (r9 verdict #3): the r8/r9 operator families' second decade.
    # The SFT family and the post-training transforms run under the
    # FORCED_AGG protocol (output-bound); the Hamming rows use the
    # xxhash64 mapside fingerprint (the production hash — the md5
    # dict variant exists for the DuckDB mirror, same exclusion rule
    # as dedup_minhash vs _fast). `simhash_auto` is the auto-routed
    # run: at 100x the banded birthday estimate is ~1e12 >> the 1e8
    # budget, so auto must select probes — the route is recorded in
    # the output next to the estimate.
    "bpe_encode",
    "fim_transform",
    "sft_turn_flatten",
    "sft_role_audit",
    "sft_loss_mask_spans",
    "preference_pair_audit",
    "preference_pair_dedup",
    "simhash_probes_fast",
    "simhash_auto",
    # r10 batch 2: unigram apply (linear-in-tokens claim at the
    # second decade; the 100x trainer run is session setup, excluded
    # by the min-of-2 protocol like the BPE row), sparse KL (vocab
    # rollup stays the cost), shingle-df novelty (near-linear keyed
    # agg+join).
    "unigram_encode_roundtrip",
    "unigram_kl_divergence",
    "ngram_novelty",
    # r11 (r10 verdict #4): the never-stressed heavyweights' second
    # decade — export write, graph supersteps over a 100x edge list,
    # calibration rollup, streaming rollup, the byte tokenizer chain,
    # and the full e2e composition.
    "shard_export_manifest",
    "reward_margin_calibration",
    "pagerank_sales",
    "graph_triangles",
    "events_windowed_rollup",
    "bpe_byte_roundtrip",
    "pretrain_e2e_scaled",
    # Second decade for the chunked triangle closing and the
    # bucketed-edge supersteps.
    "graph_triangles_chunked",
    "pagerank_bucketed",
    "gopher_ngram_repetition",
]


def _graph_triangles_chunked(spark, sf_dir: str):
    """The broadcast-ceiling fallback under its own stress row:
    identical supplier co-purchase graph as `graph_triangles`, closing
    forced to the chunked plan — the plan a graph beyond
    ~auto_broadcast_max_edges oriented edges gets from closing='auto'.
    Parity with the broadcast plan is pytest-asserted
    (tests/test_graph.py); this row measures what the fallback COSTS
    per decade so the auto threshold is a measured trade, not a hope."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext.graph import connected_triangles

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .select(
            F.col("x.l_suppkey").alias("src"),
            F.col("y.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    return connected_triangles(edges, orient="id", closing="chunked")


def _pretrain_e2e_scaled(spark, sf_dir: str):
    """The e2e pipeline under the replica protocol: identical chain
    minus the stopword gopher rule — replica token suffixing (the_rN)
    defeats every English stopword, which would measure an EMPTY
    pipeline (caught when the 10x run exported zero files). The
    word-count rule, dedup, mixture, tokenize, pack, and export
    stages all operate unchanged on suffixed text."""
    from deftunes_spark.driver_queries_r11 import run_pretrain_pipeline

    return run_pretrain_pipeline(spark, sf_dir, stopword_rule=False)


def _simhash_probes_fast(spark, sf_dir: str):
    """Hamming near-pairs, probes candidates, production fingerprint
    (zero-shuffle xxhash64 mapside — the md5 dict variant is the
    DuckDB mirror, not the scale path)."""
    from deftunes_spark.ext import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sims = D.simhash64_mapside(docs, "doc_id", "text")
    return D.simhash_near_pairs(
        sims, "doc_id", max_hamming=8, mode="probes"
    )


def _simhash_auto(spark, sf_dir: str):
    """mode='auto' — the routing itself under test: the harness
    prints the decision simhash_route makes for this corpus size."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.filter(F.col("text").isNotNull()).count()
    route, est = D.simhash_route(n, 8)
    print(
        f"     simhash_auto route @ n={n}: {route} "
        f"(banded estimate {est:.3g} vs budget "
        f"{D._BANDS_CANDIDATE_BUDGET:.0g})"
    )
    sims = D.simhash64_mapside(docs, "doc_id", "text")
    return D.simhash_near_pairs(
        sims, "doc_id", max_hamming=8, mode="auto"
    )


def _ann_knn_auto(spark, sf_dir: str):
    """Production k-NN self-join: corpus-proportional quantizer
    (target 500 rows/list) + grouped-BLAS kernel with the hot-cluster
    cap. The stress-tier twin of `ann_knn_join_fast`, whose fixed
    literal centroids are the oracle mirror, not the scale path."""
    from deftunes_spark.ext.similarity import ivf_index, knn_join_grouped

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = ivf_index(emb, n_lists="auto", target_list_rows=500)
    return knn_join_grouped(emb, cents, k=3, cache=True)


def build_scale_dir(
    spark, scale_dir: str = SCALE_DIR, replicas: int = REPLICAS
) -> None:
    from pyspark.sql import functions as F

    os.makedirs(scale_dir, exist_ok=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    scaled = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.when(
                F.col("text").isNotNull(),
                F.array_join(
                    F.transform(
                        F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+"),
                        lambda x: F.concat(
                            x, F.lit("_r"), F.col("rep").cast("string")
                        ),
                    ),
                    " ",
                ),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{scale_dir}/documents.parquet"
    )
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    scaled_e = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (
                    x + F.col("rep").cast("float") * F.lit(0.0003)
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    scaled_e.repartition(32).write.mode("overwrite").parquet(
        f"{scale_dir}/embeddings.parquet"
    )
    # Events scale too (r8 verdict #5): per-replica disjoint user and
    # event ids — dialog COUNT scales with the replicas while every
    # dialog keeps its 1x turn structure, the same
    # duplicate-density-preserving discipline as the text suffixing.
    # (Before r9 events was symlinked unscaled and the SFT family was
    # excluded from the stress table.)
    ev_dst = f"{scale_dir}/events.parquet"
    if os.path.islink(ev_dst):
        os.unlink(ev_dst)  # pre-r9 replica layout
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    scaled_ev = ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("rep") * 10_000_000).alias(
            "event_id"
        ),
        "ts",
        (F.col("user_id") + F.col("rep") * 10_000_000).alias(
            "user_id"
        ),
        *[c for c in ev.columns if c not in ("event_id", "ts", "user_id")],
    )
    scaled_ev.repartition(32).write.mode("overwrite").parquet(ev_dst)

    # Orders + lineitem scale too (r10 verdict #4: the graph family's
    # stress rows need a GROWING edge list): per-replica disjoint
    # order/customer/supplier ids — each replica is an isomorphic copy
    # of the 1x trade graph, so edges and triangles grow exactly
    # linearly while per-replica density (the quantity the join plans
    # actually feel) stays constant. Before r11 both were symlinked
    # unscaled, which would have measured N x vs 1x of the same graph.
    for t, keys in (
        ("orders", ("o_orderkey", "o_custkey")),
        ("lineitem", ("l_orderkey", "l_suppkey", "l_partkey")),
    ):
        dst = f"{scale_dir}/{t}.parquet"
        if os.path.islink(dst):
            os.unlink(dst)  # pre-r11 replica layout
        tb = spark.read.parquet(f"{BASE}/{t}.parquet")
        shifted = tb.crossJoin(F.broadcast(reps)).select(
            *[
                (
                    (F.col(c) + F.col("rep") * 10_000_000).alias(c)
                    if c in keys
                    else F.col(c)
                )
                for c in tb.columns
            ]
        )
        shifted.repartition(32).write.mode("overwrite").parquet(dst)

    # The harness loaders resolve sibling tables from the same dir.
    for t in "region nation customer supplier part".split():
        dst = f"{scale_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)


def bucket_maxima(spark, sf_dir: str) -> dict:
    """Largest bucket each bucketed operator can see at this scale —
    the quantity that must grow sublinearly (or stay capped) for the
    100 TB claim to hold."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext.dedup import minhash_signatures_mapside

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    sigs = minhash_signatures_mapside(
        docs, "doc_id", "text", n=2, num_hashes=32,
        hash_fn="xxhash64",
    )
    bands = 8
    rows = 32 // bands
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
        ).alias(f"bk_{b}")
        for b in range(bands)
    ]
    banded = sigs.select(
        "doc_id", *band_cols
    ).unpivot("doc_id", [f"bk_{b}" for b in range(bands)], "band", "key")
    max_band = (
        banded.groupBy("band", "key").count().agg(F.max("count")).first()[0]
    )

    from deftunes_spark.driver_queries_ext import (
        _IVF_CENTROIDS,
        _IVF_PROBE,
    )
    from deftunes_spark.ext.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sizes = (
        ivf_assign(emb, _IVF_CENTROIDS, "embedding", "cluster")
        .groupBy("cluster")
        .count()
        .collect()
    )
    max_cluster = max(r["count"] for r in sizes)
    # The ivfpq scale claim specifically: the probe scans only the
    # probed inverted lists, so THEIR maximum is the unit of work.
    max_probed = max(
        (r["count"] for r in sizes if r["cluster"] in _IVF_PROBE),
        default=0,
    )
    # The engineered nlist ∝ corpus path: auto must hold the max
    # cluster ~flat 1x→10x where the fixed-literal quantizer grows
    # linearly (the scale-killer the r5 stress measured).
    from deftunes_spark.ext.similarity import ivf_index

    auto_assigned, auto_cents = ivf_index(
        emb, n_lists="auto", target_list_rows=500
    )
    auto_sizes = (
        auto_assigned.groupBy("ivf_list")
        .count()
        .agg(F.max("count"), F.avg("count"))
        .first()
    )
    return {
        "max_lsh_bucket": int(max_band),
        "max_ivf_cluster_rows": int(max_cluster),
        "max_probed_list_rows": int(max_probed),
        "auto_nlist": len(auto_cents),
        "auto_max_cluster_rows": int(auto_sizes[0]),
        "auto_mean_cluster_rows": round(float(auto_sizes[1]), 1),
        "n_docs": docs.count(),
        "n_vecs": emb.count(),
    }


def sft_long_dialog_probe(spark) -> dict:
    """Adversarial fixture for the SFT span fold (r8 verdict #5): the
    in-array ``aggregate`` prefix sum copies the offsets array once
    per turn — O(turns²) array cells per dialog. Fine at conversation
    lengths (the replica corpus averages ~a dozen turns), but the
    stress table must SHOW the quadratic term, so this times single
    synthetic dialogs two decades apart in turn count. A 4× turn
    growth at ~16× cell copies stays sub-second; past ~10⁴ turns a
    caller should chunk the dialog (or accept the posexplode +
    window-cumsum shuffle instead)."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext.sft import sft_loss_mask_spans

    out = {}
    for turns in (1_000, 4_000, 16_000):
        df = spark.range(1).select(
            F.col("id").alias("dialog_id"),
            F.expr(
                f"transform(sequence(1, {turns}), i -> named_struct("
                "'role', CASE WHEN i % 2 = 1 THEN 'user' "
                "ELSE 'assistant' END, "
                "'content', concat('turn ', i, ' body words here')))"
            ).alias("messages"),
        )
        sft_loss_mask_spans(df).collect()  # warm codegen
        t0 = time.perf_counter()
        rows = len(sft_loss_mask_spans(df).collect())
        out[f"turns_{turns}"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "rows": rows,
        }
    return out


def simhash_crossover_probe(spark) -> dict:
    """Empirical evidence for the bands→probes auto-route crossover
    (r9 verdict #3): at 1x (sf0.1, ~5k docs) the banded birthday
    estimate n²(h+1)/2^(64/(h+1)) sits under the 1e8 candidate
    budget — auto selects BANDS and bands is the cheaper
    measurement; at 10x (~50k docs) the estimate crosses the budget
    — auto selects PROBES and probes wins the measurement. Both
    modes are timed at both corpus sizes (same zero-shuffle xxhash64
    fingerprint, h=8), so the cost table's crossover is OBSERVED,
    not asserted. Output row sets are identical by pigeonhole
    (exactness pytest + the shared full oracle of
    dedup_simhash_probes); the probe asserts it anyway via the pair
    counts."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext import dedup as D

    out = {}
    for label, sf_dir in (
        ("1x", BASE),
        ("10x", SCALE_DIR),
    ):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.filter(F.col("text").isNotNull()).count()
        route, est = D.simhash_route(n, 8)
        rec: dict = {
            "n_docs": n,
            "banded_candidate_estimate": round(est),
            "auto_route": route,
        }
        for mode in ("bands", "probes"):
            sims = D.simhash64_mapside(docs, "doc_id", "text")
            pairs = D.simhash_near_pairs(
                sims, "doc_id", max_hamming=8, mode=mode
            )
            pairs.collect()  # warm codegen
            t0 = time.perf_counter()
            n_pairs = len(pairs.collect())
            rec[mode] = {
                "sec": round(time.perf_counter() - t0, 2),
                "pairs": n_pairs,
            }
        assert rec["bands"]["pairs"] == rec["probes"]["pairs"]
        out[label] = rec
        print(
            f"crossover {label}: n={n} est={est:.3g} route={route} "
            f"bands={rec['bands']['sec']}s "
            f"probes={rec['probes']['sec']}s "
            f"({rec['bands']['pairs']} pairs both)"
        )
    return out


def main() -> None:
    from deftunes_spark.registry import QUERIES as REG
    from deftunes_spark.session import get_spark

    spark = get_spark(
        "deftunes-scale-stress",
        extra_conf={"spark.sql.files.maxPartitionBytes": "2MB"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if (
        "--rebuild" in sys.argv
        or not os.path.exists(f"{SCALE_DIR}/documents.parquet")
        # an older replica layout symlinked events UNSCALED — running
        # the SFT rows against it would silently measure 10x vs 1x
        # of the same data
        or os.path.islink(f"{SCALE_DIR}/events.parquet")
        # an older layout symlinked orders/lineitem UNSCALED — the
        # graph rows would silently measure Nx vs 1x of one graph
        or os.path.islink(f"{SCALE_DIR}/orders.parquet")
    ):
        t0 = time.perf_counter()
        build_scale_dir(spark)
        print(f"built {SCALE_DIR} in {time.perf_counter() - t0:.1f}s")

    local = {
        "pretrain_e2e_scaled": _pretrain_e2e_scaled,
        "ann_knn_auto": _ann_knn_auto,
        "simhash_probes_fast": _simhash_probes_fast,
        "simhash_auto": _simhash_auto,
        "graph_triangles_chunked": _graph_triangles_chunked,
    }

    def _resolve(name):
        base = local.get(name) or REG[name]
        if name not in FORCED_AGG:
            return base
        from pyspark.sql import functions as F

        def forced(spark_, sf_dir_, _base=base):
            df = _base(spark_, sf_dir_)
            # bit_xor, not sum: xxhash64 spans the full signed-long
            # range, and under ANSI mode a sum aggregate overflows
            # on any real corpus; xor is closed over int64.
            return df.select(
                F.xxhash64(*[F.col(c) for c in df.columns]).alias(
                    "_h"
                )
            ).agg(
                F.count(F.lit(1)).alias("n_out"),
                F.expr("bit_xor(_h)").alias("content_hash"),
            )

        return forced

    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = set(sys.argv[i + 1].split(","))

    def _rows(name, res):
        # FORCED_AGG queries ship one aggregate row; the table
        # records the materialized OUTPUT row count it carries.
        return (
            int(res[0]["n_out"]) if name in FORCED_AGG
            else len(res)
        )

    out: dict = {"load_avg": [round(x, 2) for x in os.getloadavg()]}
    for label, sf_dir in (("1x", BASE), ("10x", SCALE_DIR)):
        out[label] = {"buckets": bucket_maxima(spark, sf_dir)}
        names = QUERIES + (
            ["ann_knn_auto", "simhash_probes_fast", "simhash_auto"]
            if "--100x" in sys.argv
            else []
        )
        if only is not None:
            names = [n for n in names if n in only]
        for name in names:
            fn = _resolve(name)
            fn(spark, sf_dir).collect()  # warm
            best = None
            for _ in range(2):
                # clearCache BEFORE each timed run: the
                # cache=True builders persist their assignment and
                # CacheManager would serve every later identical plan
                # from the first run's pin — the timed wall must be
                # steady-state execution on every tier, not a cache
                # read, or the decade ratios divide numbers taken
                # under two different protocols.
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                rows = _rows(name, fn(spark, sf_dir).collect())
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
            out[label][name] = {"sec": round(best, 2), "rows": rows}
            print(f"{label:>4} {name:28s} {best:7.2f}s {rows:>8} rows")

    if "--100x" in sys.argv:
        # The second decade (r6 verdict #3): flagship scale-path
        # operators only, ONE timed run each (at 30-s+ walls the
        # codegen warm-up is noise and a second run doubles an
        # hour-scale sweep for nothing).
        if (
            "--rebuild" in sys.argv
            or not os.path.exists(f"{SCALE_DIR_100}/documents.parquet")
            or os.path.islink(f"{SCALE_DIR_100}/events.parquet")
            or os.path.islink(f"{SCALE_DIR_100}/orders.parquet")
        ):
            t0 = time.perf_counter()
            build_scale_dir(spark, SCALE_DIR_100, 100)
            print(
                f"built {SCALE_DIR_100} in "
                f"{time.perf_counter() - t0:.1f}s"
            )
        out["100x"] = {"buckets": bucket_maxima(spark, SCALE_DIR_100)}
        names_100 = FLAGSHIP_100X
        if only is not None:
            names_100 = [n for n in names_100 if n in only]
        for name in names_100:
            fn = _resolve(name)
            # One warm-up, one timed run. "Warm-up is noise at 30-s
            # walls" proved WRONG in r8: the cold first run of the
            # md5-codegen-heavy queries is ~2x steady state
            # (hot_ngrams_cms measured 25.0s cold / 13.2s warm at
            # 100x) — the table must record steady-state execution,
            # with cold-start noted as session overhead, not scaling.
            t0 = time.perf_counter()
            fn(spark, SCALE_DIR_100).collect()
            cold = time.perf_counter() - t0
            # clearCache between cold and warm (r8 review): cache=True
            # flagships persist their assignment, and CacheManager
            # serves the warm run's IDENTICAL canonical plan from the
            # cold run's pin — the "warm" wall would time a cache read,
            # not steady-state execution. Cleared again after the timed
            # run so pins don't accumulate across the tier.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = _rows(name, fn(spark, SCALE_DIR_100).collect())
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            # sec = min of the two runs (bench.py's estimator): the
            # warm run is usually the floor (JIT), but at 40-90 s
            # walls a single run can catch VM CPU steal — one r8 run
            # recorded warm 94 s vs cold 44 s on an uncached query.
            out["100x"][name] = {
                "sec": round(min(dt, cold), 2),
                "cold_sec": round(cold, 2),
                "warm_sec": round(dt, 2),
                "rows": rows,
            }
            print(
                f"100x {name:28s} {min(dt, cold):7.2f}s "
                f"(cold {cold:6.2f}s warm {dt:6.2f}s) "
                f"{rows:>8} rows"
            )

    if only is None or "simhash_crossover" in only:
        out["simhash_crossover"] = simhash_crossover_probe(spark)

    out["sft_long_dialog"] = sft_long_dialog_probe(spark)
    for k, v in out["sft_long_dialog"].items():
        print(f"long-dialog {k}: {v['sec']}s {v['rows']} rows")

    print("\n| query | 1x sec | 10x sec | ratio | 1x rows | 10x rows |")
    print("|---|---|---|---|---|---|")
    for name in QUERIES:
        if name not in out["1x"]:
            continue  # filtered by --only
        a, b = out["1x"][name], out["10x"][name]
        print(
            f"| {name} | {a['sec']} | {b['sec']} | "
            f"{b['sec'] / max(a['sec'], 1e-9):.1f}x | {a['rows']} | "
            f"{b['rows']} |"
        )
    if "100x" in out:
        print(
            "\n| query | 10x sec | 100x sec | ratio (decade) "
            "| 100x rows |"
        )
        print("|---|---|---|---|---|")
        for name in FLAGSHIP_100X:
            a = out["10x"].get(name)
            b = out["100x"].get(name)
            if b is None:
                continue  # filtered by --only
            a_sec = a["sec"] if a else float("nan")
            ratio = (
                f"{b['sec'] / max(a_sec, 1e-9):.1f}x" if a else "n/a"
            )
            print(
                f"| {name} | {a_sec if a else 'n/a'} | {b['sec']} | "
                f"{ratio} | {b['rows']} |"
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
