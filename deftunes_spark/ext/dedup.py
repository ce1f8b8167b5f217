"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: no operator here ever materializes an O(n²) comparison.
Candidate generation is always a hash-bucket equi-join (LSH bands,
SimHash chunks, shared shingles), so at 100 TB the shuffle keys are
bucket ids and the pair space stays proportional to true-duplicate
density, not to n².

Hash functions are pluggable: ``xxhash64`` (JVM built-in, the scale
path) or ``md5`` (slower, but mirrorable in ANSI SQL for the
correctness oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deftunes_spark.ext.lineage import cut_lineage
from deftunes_spark.ext.text import tokens_col


def _hash_col(col: Column, seed: int, fn: str) -> Column:
    """Seeded string hash. xxhash64 → bigint; md5 → hex string (min()
    over hex strings is still a valid minwise order)."""
    seeded = F.concat(F.lit(f"{seed}|"), col)
    if fn == "xxhash64":
        return F.xxhash64(seeded)
    if fn == "md5":
        return F.md5(seeded)
    raise ValueError(f"unknown hash fn {fn!r}")


# ---------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Exact duplicate groups by key columns (hash-shuffle groupBy).

    Returns one row per distinct key: representative ``keep_id`` (min
    id — deterministic) and ``dup_count``. Map-side combine keeps the
    shuffle proportional to distinct keys, not rows.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


# ---------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------


def shingle_array_sql(n: int, toks: str = "_toks") -> str:
    """The canonical per-document word-n-gram array expression (SQL
    string over a tokenized ``{toks}`` array column). ONE definition —
    ``shingles``, the map-side minhash signatures, the KMV overlap
    sketch, and the Bloom decontamination probe all build from it, so
    a tokenization change can never desynchronize them (or their SQL
    oracles, which mirror this exact slice/join algebra). Documents
    shorter than ``n`` tokens contribute the full token string."""
    return (
        f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> array_join(slice({toks}, i, {n}), ' '))"
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    Built entirely from array expressions (split → sliding slices →
    explode) — stays in whole-stage codegen. Documents shorter than
    ``n`` tokens contribute their full token string as one shingle.
    """
    toks = tokens_col(text_col)
    sh = F.expr(shingle_array_sql(n))
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select("_id", F.explode(sh).alias("shingle"))
        .distinct()
        .withColumnRenamed("_id", id_col)
    )


def shingles_mapside(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """:func:`shingles` without the distinct SHUFFLE: per-document
    dedup as a per-row ``array_distinct`` before the explode — same
    (id, shingle) set when ids are unique per input row (the contract
    everywhere shingles are consumed; a multi-row id would dedup
    across rows only in the exploded variant). The output feeds
    map-side consumers (sketch builds, sampled filters, Bloom probes)
    with ZERO exchange — at 100× the exploded+distinct variant's
    (doc, shingle) string shuffle was the dominant cost of
    ``hot_ngrams_cms``, not the sketch itself."""
    toks = tokens_col(text_col)
    sh = F.expr(f"array_distinct({shingle_array_sql(n)})")
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select("_id", F.explode(sh).alias("shingle"))
        .withColumnRenamed("_id", id_col)
    )


# ---------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
    dict_hashes: bool = False,
) -> DataFrame:
    """MinHash signature per document: one groupBy with ``num_hashes``
    min() aggregates over seeded shingle hashes — a single shuffle
    keyed by document id regardless of k.

    ``dict_hashes=True`` hashes each DISTINCT shingle once and
    broadcast-joins the k-hash dictionary back onto the (doc, shingle)
    rows — identical signatures, but the k × md5 work drops from
    O(doc-shingle rows) to O(distinct shingles). The win scales with
    shingle repetition (natural-language corpora repeat heavily); the
    distinct-shingle set must fit broadcast range (it grows with the
    corpus — not the 100 TB default).
    """
    if dict_hashes:
        hash_dict = shingle_df.select("shingle").distinct().select(
            "shingle",
            *[
                _hash_col(F.col("shingle"), i, hash_fn).alias(f"h_{i}")
                for i in range(num_hashes)
            ],
        )
        joined = shingle_df.join(F.broadcast(hash_dict), "shingle")
        aggs = [
            F.min(F.col(f"h_{i}")).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return joined.groupBy(id_col).agg(*aggs)
    aggs = [
        F.min(_hash_col(F.col("shingle"), i, hash_fn)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shingle_df.groupBy(id_col).agg(*aggs)


def minhash_signatures_mapside(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature with ZERO shuffle: shingling and all k minima
    are computed per ROW with array expressions — ``array_min`` over a
    ``transform`` of the document's shingle array, once per seed.

    Identical signatures to the explode→groupBy path because min() is
    duplicate-insensitive: the minimum over a document's shingle
    multiset equals the minimum over its distinct-shingle set, so the
    explode + DISTINCT + k-way min-aggregate shuffle buys nothing the
    per-row array can't. At 100 TB this is the difference between
    shuffling an exploded shingle table (10–50× the text) and
    shuffling NOTHING before the (tiny, fixed-width) band join — the
    signature stage rides the text scan, embarrassingly parallel.

    Shingling matches ``shingles()`` exactly (same slice/join
    expression; documents shorter than ``n`` tokens contribute the
    full token string; a NULL text yields one NULL shingle, hashing
    to the xxhash64 seed / NULL under md5 — bit-identical to the
    exploded path, parity-tested). Prefer with cheap hashes
    (xxhash64); with md5 the per-occurrence hashing can exceed the
    saved shuffle — measure.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash fn {hash_fn!r}")
    toks = tokens_col(text_col)
    sh_expr = shingle_array_sql(n)
    hfmt = (
        "xxhash64(concat('{seed}|', s))"
        if hash_fn == "xxhash64"
        else "md5(concat('{seed}|', s))"
    )
    sig_cols = [
        F.expr(
            f"array_min(transform(_sh, s -> {hfmt.format(seed=i)}))"
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.expr(sh_expr).alias("_sh"))
        .select(F.col(id_col), *sig_cols)
    )


def _banded_keys(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_band_key: bool,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Explode a signature table into (id, band, band_key) rows —
    the LSH banding shared by the self-join and incremental paths.
    ``carry_cols`` ride along (e.g. an is-new flag)."""
    if bands <= 0 or bands > num_hashes:
        raise ValueError(
            f"bands must be in [1, num_hashes]: bands={bands}, "
            f"num_hashes={num_hashes}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes must divide evenly into bands: {num_hashes} % "
            f"{bands} != 0 (trailing signatures would be silently unused)"
        )
    rows_per_band = num_hashes // bands

    def _band_key(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[
                F.col(f"mh_{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        return F.xxhash64(joined) if hash_band_key else joined

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _band_key(b).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(
        F.col(id_col), *carry_cols, F.explode(band_structs).alias("bk")
    ).select(id_col, *carry_cols, "bk.band", "bk.band_key")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    hash_band_key: bool = True,
) -> DataFrame:
    """Band the signatures and equi-join on (band, band_key): documents
    agreeing on all rows of any band become a candidate pair.

    The join key is the banded hash — collisions (true near-dups)
    co-locate, everything else never meets. ``id_a < id_b`` halves the
    pair space and removes self-pairs.

    ``hash_band_key=True`` (the scale path) compresses each band to a
    fixed-width 8-byte xxhash64 shuffle key; ``False`` joins on the
    concatenated signature string itself — bit-for-bit mirrorable in
    ANSI SQL (the correctness-oracle path), at the cost of wider keys.
    """
    banded = _banded_keys(sig_df, id_col, num_hashes, bands, hash_band_key)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_estimate_jaccard(
    sig_df: DataFrame, pairs: DataFrame, id_col: str, num_hashes: int = 32
) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature components."""
    matches = sum(
        F.when(F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    sa = sig_df.alias("sa")
    sb = sig_df.alias("sb")
    return (
        pairs.join(sa, pairs.id_a == F.col(f"sa.{id_col}"))
        .join(sb, pairs.id_b == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    hash_band_key: bool = True,
    dict_hashes: bool = False,
    reliable: bool = False,
    signature_strategy: str = "auto",
    signature_materialize: bool = True,
) -> DataFrame:
    """End-to-end near-duplicate pairs: shingle → MinHash → LSH bands →
    estimated-Jaccard filter. Returns (id_a, id_b, est_jaccard).

    ``hash_fn="md5"`` + ``hash_band_key=False`` makes every step
    expressible in ANSI SQL (the DuckDB oracle mirrors it exactly);
    the defaults are the faster fixed-width-key path.
    ``signature_strategy``: ``"mapside"`` computes signatures per row
    with array expressions (zero shuffle — see
    ``minhash_signatures_mapside``); ``"shuffle"`` is the explode →
    k-way min-aggregate path; ``"auto"`` picks mapside for the cheap
    xxhash64 (the shuffle saved dwarfs the per-occurrence hashing) and
    the shuffle+dict path for md5 (hashing per distinct shingle wins
    when the hash itself is the cost). Signatures are identical either
    way (pytest-asserted), so the choice is purely physical.
    ``dict_hashes`` applies only to the shuffle signature strategy
    (see :func:`minhash_signatures`); the mapside path ignores it.
    ``reliable=True`` materializes the signature table to the
    configured checkpoint dir instead of executor-local blocks (the
    cluster path — see ``ext.lineage``)."""
    if signature_strategy == "auto":
        signature_strategy = "mapside" if hash_fn == "xxhash64" else "shuffle"
    if signature_strategy == "mapside":
        sig = minhash_signatures_mapside(
            df, id_col, text_col, n, num_hashes, hash_fn
        )
    elif signature_strategy == "shuffle":
        sh = shingles(df, id_col, text_col, n)
        sig = minhash_signatures(
            sh, id_col, num_hashes, hash_fn, dict_hashes
        )
    else:
        raise ValueError(
            f"unknown signature_strategy {signature_strategy!r}"
        )
    # The signature table feeds FOUR plan branches (both sides of the
    # band self-join, both sides of the estimate join); materialize it
    # once or the whole shingle→hash→agg pipeline re-executes per
    # branch. At scale this is the standard persisted minhash-signature
    # table (n_docs × k hashes — orders of magnitude under the text).
    # ``signature_materialize=False`` skips the checkpoint and leaves
    # branch-sharing to Catalyst's ReusedExchange — the LAZY mode for
    # callers composing this into one larger single-action plan (the
    # e2e pipeline contract: no intermediate driver action). The
    # default stays the persisted signature table, right whenever the
    # pair relation is consumed by more than one action.
    if signature_materialize:
        sig = cut_lineage(sig, reliable)
    pairs = lsh_candidate_pairs(
        sig, id_col, num_hashes, bands, hash_band_key
    )
    est = minhash_estimate_jaccard(sig, pairs, id_col, num_hashes)
    return est.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------
# n-gram Jaccard (exact, shared-shingle candidate join)
# ---------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets.

    Candidates come from an equi-join on the shingle itself (only
    pairs sharing ≥1 shingle ever meet), then
    ``|A∩B| / (|A| + |B| - |A∩B|)``.

    ``max_doc_freq`` is the skew guard for 100 TB corpora: shingles
    appearing in more than that many documents (stopword shingles —
    each contributes O(df²) candidate pairs) are dropped from the
    shingle SETS before sizing and joining, so the result is the exact
    Jaccard of the FILTERED sets. Deterministic, order-independent,
    and the candidate space becomes Σ min(df, cap)² instead of Σ df².
    ``None`` keeps full exact semantics.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        dfreq = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("_df")
        )
        sh = (
            sh.join(dfreq, "shingle")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    # The shingle set feeds four plan branches (sizes + both join
    # sides); materialize once so split+explode+distinct runs once.
    sh = cut_lineage(sh, reliable)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sza = sizes.select(
        F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")
    )
    szb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")
    )
    return (
        common.join(sza, "id_a")
        .join(szb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (
                    F.col("size_a") + F.col("size_b") - F.col("common")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Tier-1 probe sizing for prefix_filter_pairs' stopword auto-guard:
# decide plan shape from ~this many sampled docs (corpora at or under
# it are measured exactly), attaching the exact in-plan gate whenever
# the extrapolated Σdf² bound times the margin exceeds the budget.
_GUARD_PROBE_DOCS = 1000
_GUARD_PROBE_MARGIN = 10.0
_GUARD_PROBE_TEXT_CAP = 65536  # chars per sampled doc (driver memory)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    cache: bool = False,
    max_candidate_factor: float | None = 1024.0,
    min_candidate_floor: int = 10_000_000,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    AllPairs/PPJoin candidate strategy (Bayardo et al., WWW'07; Xiao
    et al., WWW'08). Unlike ``ngram_jaccard_pairs`` (joins on EVERY
    shared shingle, candidate space Σ df²) or its ``max_doc_freq``
    variant (exact only on the truncated sets), this prunes the
    candidate space WITHOUT changing the answer.

    Order each document's shingle set by global rarity (document
    frequency asc, shingle asc — one total order corpus-wide). For
    Jaccard ≥ t, the overlap obeys o ≥ t·|x|, so the globally
    smallest common shingle of any qualifying pair must sit inside
    BOTH documents' first ``|s| - floor(t·|s|) + 1`` shingles (were it
    outside x's prefix, all common shingles would fit in x's suffix
    of floor(t·|x|) − 1 < o positions). Candidates therefore come
    from an equi-join on PREFIX shingles only — the rarest ones, so
    per-shingle fan-out is small by construction where df² would
    explode — and each candidate is verified exactly on the full sets
    (``array_intersect`` on the pair row). The floor() form
    over-lengthens the prefix by ≤1 vs the textbook ceil(), buying
    immunity to float rounding in t·|s| at the cost of a few extra
    candidates, never a missed pair.

    Shape at 100 TB: one shingle+df shuffle, one bounded prefix
    equi-join, one verify join carrying arrays only for candidate
    pairs. The ordered-set relation feeds three branches (prefix
    explode + both verify sides) — persisted, computed once.
    ``cache=False`` skips the pin for long-lived sessions that would
    otherwise accumulate cached relations call-over-call (Spark's
    CacheManager holds plans until ``spark.catalog.clearCache()``;
    there is no TTL), trading up to 5× recompute of the shingle+df
    pass (two prefix-join sides, two verify sides, and the guard's
    estimate aggregate; n_docs is a cheap raw-input count).

    Stopword auto-guard (r7 verdict #6): prefix pruning degrades on
    stopword-dense shingle universes — when every prefix token is
    common, the candidate equi-join degenerates toward Σ df² (measured
    11 s at n=2/t=0.5 on the 40-word synthetic vocabulary vs 1.3 s at
    n=4/t=0.7). The guard estimates the generated candidate rows as
    Σ c² over prefix-token groups (exactly the join's fan-out, before
    distinct) and FAILS FAST — ``raise_error`` inside the plan, fired
    from the 1-row broadcast gate that the candidate join depends on,
    so the explosive join never streams — when the estimate exceeds
    ``max(min_candidate_floor, max_candidate_factor · n_docs)`` —
    the floor is sized at work one pass absorbs in seconds (10M
    candidate rows), so the guard only fires when the estimate is
    large absolutely AND out of proportion to the corpus. The
    error names the knobs: raise ``n`` (richer shingles), raise
    ``threshold`` (shorter prefixes), route to
    ``ngram_jaccard_pairs(max_doc_freq=...)`` (exact on truncated
    sets), or raise the budget. ``max_candidate_factor=None`` disables
    the guard. The floor keeps small corpora — where a dense candidate
    set is legitimate and trivially cheap — out of the guard's way;
    exactness is untouched either way (the gate joins a constant 1-row
    relation, it never filters data).

    Tier-1 short-circuit (r8 verdict #7): before attaching the exact
    Σc² gate, a seeded doc-sample probe extrapolates the Σdf² upper
    bound on the fan-out (unbiased estimator, exact for corpora at or
    under the probe size); a universe whose margin-scaled estimate
    already fits the budget skips the gate (and its estimate
    aggregate + broadcast wait) entirely, restoring the unguarded
    plan. The probe decides PLAN SHAPE only — whenever it is in doubt
    the exact in-plan gate remains the enforcement, so adversarial
    universes still fail fast on the true Σc². Enabling the guard
    makes construction EAGER (one sampled-text projection collect +
    one raw count at build time; the shingle estimate itself runs
    driver-side over ≤ _GUARD_PROBE_DOCS capped texts)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from pyspark import StorageLevel

    sh = shingles(df, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))

    # Tier-1 guard short-circuit (r8 verdict #7): the exact Σc² gate
    # below was paid on every invocation — including obviously-benign
    # shingle universes where prefix tokens are rare by construction
    # (a measured ~1.3× structural cost on the clean sf0.1 corpus). A
    # FULL document-frequency probe is no cheaper than the gate (the
    # shingles pass dominates both), so the plan choice is made from a
    # seeded DOC SAMPLE: an unbiased estimator of Σdf² — itself an
    # upper bound on the gate's Σc², since prefix counts c ≤ df
    # term-wise — is extrapolated from ~_GUARD_PROBE_DOCS sampled
    # docs (for Bernoulli(λ) doc sampling, E[Σ dₛ(dₛ−1)] = λ²·Σ d(d−1)
    # and E[Σ dₛ] = λ·Σ d), and only when the estimate times a
    # _GUARD_PROBE_MARGIN safety factor exceeds the budget is the
    # exact in-plan gate attached at all. The sample decides PLAN
    # SHAPE only, never the answer and never the fail-fast value: the
    # enforcement stays the exact Σc² assert whenever the probe is in
    # doubt (margin-conservative: over-attaching costs the old gate
    # price, under-attaching needs the probe to miss a ≥10× budget
    # blow-through — stopword catastrophes sit orders of magnitude
    # over). Corpora at or under the probe size are measured exactly
    # (fraction 1.0). This makes the builder EAGER when the guard is
    # enabled (one sampled-shingle aggregate + one raw count at
    # construction time) — the same build-time-probe discipline as
    # the hot-cluster guard.
    attach_gate = False
    n_docs_v = 0
    if max_candidate_factor is not None:
        # The shingling itself runs DRIVER-SIDE over a collected HEAD
        # sample: a distributed probe job pays ~0.5-0.8 s of fixed
        # codegen + scheduling for ~1000 docs of work, wiping out the
        # very overhead the short-circuit exists to remove. One
        # CollectLimit projection ships the first _GUARD_PROBE_DOCS
        # texts (incremental execution — scans only the partitions it
        # needs; each text capped at _GUARD_PROBE_TEXT_CAP chars for
        # bounded driver memory). Head sampling is biased where the
        # corpus is partition-ordered by content — acceptable for a
        # PLAN-SHAPE heuristic (a miss costs a slow job, never a
        # wrong answer; the margin and the stopword signal being
        # corpus-global both cut the other way) — and the raw count
        # job (needed for the budget and the extrapolation λ anyway)
        # runs CONCURRENTLY on a second thread, so the probe's wall
        # cost is max(count, collect), not the sum. The Counter pass
        # mirrors shingles()'s tokenization (explicit whitespace
        # class, whole-string shingle for sub-n docs).
        import re as _re
        from collections import Counter
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            count_fut = pool.submit(df.count)
            rows = (
                df.select(
                    F.left(
                        F.col(text_col), F.lit(_GUARD_PROBE_TEXT_CAP)
                    )
                )
                .limit(_GUARD_PROBE_DOCS)
                .collect()
            )
            n_docs_v = count_fut.result()
        texts = [r[0] for r in rows]
        budget_v = max(
            float(min_candidate_floor),
            float(max_candidate_factor) * n_docs_v,
        )
        frac = min(1.0, len(texts) / max(n_docs_v, 1))
        cnt: Counter = Counter()
        for t in texts:
            toks = [
                x
                for x in _re.split("[ \t\n\x0B\f\r]+", (t or "").strip())
                if x != ""
            ]
            if len(toks) < n:
                cnt.update({" ".join(toks)})
            else:
                cnt.update(
                    {
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    }
                )
        if texts:
            dd = float(sum(c * (c - 1) for c in cnt.values()))
            d1 = float(sum(cnt.values()))
            est_sum_df2 = dd / (frac * frac) + d1 / frac
            # "Measured exactly" requires the whole corpus AND whole
            # texts (r9 review): a doc truncated at the probe cap
            # hides its tail shingles and the estimate UNDERcounts —
            # keep the safety margin whenever any sample was cut.
            truncated = any(
                t is not None and len(t) >= _GUARD_PROBE_TEXT_CAP
                for t in texts
            )
            margin = (
                1.0
                if frac >= 1.0 and not truncated
                else _GUARD_PROBE_MARGIN
            )
            attach_gate = est_sum_df2 * margin > budget_v
    arrs = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "shingle"))
            ).alias("_ord")
        )
        .select(
            id_col,
            F.expr("transform(_ord, s -> s.shingle)").alias("_set"),
            F.size("_ord").alias("_sz"),
        )
        .withColumn(
            "_plen",
            (
                F.col("_sz")
                - F.floor(F.lit(threshold) * F.col("_sz"))
                + 1
            ).cast("int"),
        )
    )
    if cache:
        arrs = arrs.persist(StorageLevel.MEMORY_AND_DISK)
    pref = arrs.select(
        F.col(id_col),
        F.explode(
            F.slice("_set", F.lit(1), F.col("_plen"))
        ).alias("_ptok"),
    )
    a_side = pref
    if attach_gate:
        # DOUBLE, not bigint: Σc² on a stopword-dense multi-billion-row
        # corpus overflows int64 and (ANSI off) wraps NEGATIVE —
        # silently passing the guard in exactly the regime it targets.
        # coalesce(…, 0): an EMPTY input aggregates to one NULL row and
        # assert_true(NULL ≤ budget) would throw instead of returning
        # zero pairs. A guard needs magnitude, not exactness.
        est = (
            pref.groupBy("_ptok")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.coalesce(
                    F.sum(
                        F.col("_c").cast("double") * F.col("_c")
                    ),
                    F.lit(0.0),
                ).alias("_est")
            )
        )
        # n_docs = RAW input rows (already counted by the tier-1
        # probe; null-text rows included — the budget is a scale
        # knob, not an exact doc count), folded to a literal so the
        # gate plan carries no second input scan.
        budget = F.lit(float(budget_v))
        # The check must live in a FILTER, not a projected column: a
        # projected check column gets dropped downstream and Catalyst
        # column-pruning would erase the raise_error expression before
        # it ever evaluates. A filter decides the gate row's existence,
        # so assert_true always runs (it returns NULL on success —
        # hence .isNull() to keep the gate row).
        chk = (
            est.filter(
                F.assert_true(
                    F.col("_est") <= budget,
                    F.concat(
                        F.lit(
                            "prefix_filter_pairs: stopword-dense "
                            "shingle universe - estimated candidate "
                            "fan-out "
                        ),
                        F.col("_est").cast("decimal(38,0)").cast("string"),
                        F.lit(" rows exceeds the budget "),
                        budget.cast("bigint").cast("string"),
                        F.lit(
                            f" (max(min_candidate_floor="
                            f"{int(min_candidate_floor)}, "
                            f"max_candidate_factor="
                            f"{float(max_candidate_factor)} x "
                            f"{n_docs_v}"
                        ),
                        F.lit(
                            " docs)). Prefix pruning needs rare "
                            f"prefix tokens: raise n (currently {n}) "
                            "for a richer shingle space, raise "
                            f"threshold (currently {threshold}) for "
                            "shorter prefixes, use ngram_jaccard_pairs"
                            "(max_doc_freq=...) for exact-on-truncated"
                            "-sets semantics, or raise "
                            "max_candidate_factor to accept the cost."
                        ),
                    ),
                ).isNull()
            )
            .select(F.lit(1).alias("_chk"))
        )
        # Gate side a of the candidate join on the 1-row check: the
        # broadcast must materialize before the join's probe streams,
        # so an over-budget config fails fast instead of running the
        # quadratic join. 1-row broadcast BNLJ — audited in PLANLINT.
        a_side = pref.join(F.broadcast(chk)).drop("_chk")
    a = a_side.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._ptok") == F.col("b._ptok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = arrs.select(
        F.col(id_col).alias("id_a"),
        F.col("_set").alias("_seta"),
        F.col("_sz").alias("_sza"),
    )
    vb = arrs.select(
        F.col(id_col).alias("id_b"),
        F.col("_set").alias("_setb"),
        F.col("_sz").alias("_szb"),
    )
    common = F.size(F.array_intersect("_seta", "_setb"))
    jac = common.cast("double") / (
        F.col("_sza") + F.col("_szb") - common
    ).cast("double")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------


def simhash64_mapside(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash with ZERO shuffle: token hashes and all 64 bit
    votes compute per ROW over the token-hash array — the same
    explode-elimination as ``minhash_signatures_mapside`` (votes are a
    per-document sum, so they never needed a cross-document shuffle).

    Bit-identical to ``simhash64(hash_fn="xxhash64")`` (parity-
    tested): same tokenization (occurrences vote, not distinct
    tokens — term-frequency weighting), same vote rule (+1 set / −1
    unset, ties → 0 bit), and NULL texts are dropped on both paths
    (explode drops them; here an explicit filter). xxhash64 only —
    the md5 oracle twin keeps the exploded shape that mirrors into
    ANSI SQL.
    """
    vote = (
        "(2 * size(filter(_h, h -> (shiftright(h, {i}) & 1) = 1)) "
        "- size(_h))"
    )
    fingerprint = " + ".join(
        f"shiftleft(CAST(IF({vote.format(i=i)} > 0, 1, 0) AS BIGINT), {i})"
        for i in range(64)
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.expr(
                f"transform(split(trim({text_col}), "
                "'[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), "
                "t -> xxhash64(t))"
            ).alias("_h"),
        )
        .select(F.col(id_col), F.expr(fingerprint).alias("simhash"))
    )


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: str = "xxhash64",
    dict_hashes: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """64-bit SimHash per document.

    Token hash bit-votes: for each bit, +1 if set else -1, summed over
    tokens; the sign becomes the fingerprint bit.

    ``strategy="mapside"`` (and ``"auto"`` with xxhash64) computes the
    votes per row with array expressions — zero shuffle, see
    ``simhash64_mapside``. ``"shuffle"`` is the explode + 64
    conditional-sum groupBy path — one shuffle keyed by doc id; it is
    what the md5 oracle mirrors, and ``dict_hashes=True`` amortizes
    md5 over distinct tokens there.

    ``hash_fn="xxhash64"`` (default) takes bit i of the JVM xxhash64 —
    the scale path. ``hash_fn="md5"`` derives bit i from hex digit
    ``i // 4`` of the token's md5 (bit ``i % 4`` within the digit) —
    slower, but every step mirrors into ANSI SQL for the correctness
    oracle. Any injective 64-bit token hash yields a valid SimHash.
    """
    if strategy == "auto":
        strategy = "mapside" if hash_fn == "xxhash64" else "shuffle"
    if strategy == "mapside":
        if hash_fn != "xxhash64":
            raise ValueError("mapside simhash supports xxhash64 only")
        return simhash64_mapside(df, id_col, text_col)
    if strategy != "shuffle":
        raise ValueError(f"unknown strategy {strategy!r}")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    if hash_fn == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bit = [
            F.shiftright("h", i).bitwiseAND(F.lit(1)) for i in range(64)
        ]
    elif hash_fn == "md5":
        digit_cols = [
            F.conv(F.substring("_md5", j + 1, 1), 16, 10)
            .cast("int")
            .alias(f"d_{j}")
            for j in range(16)
        ]
        if dict_hashes:
            # Hash each DISTINCT token once, broadcast the digit
            # dictionary back — same bits, md5+conv work drops from
            # O(token occurrences) to O(vocabulary).
            tok_dict = (
                toks.select("tok")
                .distinct()
                .withColumn("_md5", F.md5("tok"))
                .select("tok", *digit_cols)
            )
            toks = toks.join(F.broadcast(tok_dict), "tok").select(
                "_id", *[f"d_{j}" for j in range(16)]
            )
        else:
            toks = toks.withColumn("_md5", F.md5("tok")).select(
                "_id", *digit_cols
            )
        bit = [
            F.shiftright(F.col(f"d_{i // 4}"), i % 4).bitwiseAND(F.lit(1))
            for i in range(64)
        ]
    else:
        raise ValueError(f"unknown hash fn {hash_fn!r}")
    votes = [
        F.sum(F.when(bit[i] == 1, 1).otherwise(-1)).alias(f"v_{i}")
        for i in range(64)
    ]
    agg = toks.groupBy("_id").agg(*votes)
    fingerprint = None
    for i in range(64):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(
        F.col("_id").alias(id_col), fingerprint.alias("simhash")
    )


def _chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """Spread 64 bits over ``n_chunks`` as evenly as possible: the
    first (64 % n) chunks get one extra bit. Returns [(offset, width)]."""
    base, extra = divmod(64, n_chunks)
    bounds = []
    off = 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((off, width))
        off += width
    return bounds


# Largest per-chunk probe enumeration the planner may pick: bounds the
# literal mask array (expression-tree size — the r5 ivf_assign lesson)
# and the a-side fan-out.
_PROBE_MASKS_MAX = 4096
# mode="auto" routes bands → probes when the banded candidate estimate
# n²(h+1)/2^(64/(h+1)) — the BIRTHDAY term of collision-free random
# fingerprints, one scalar off n — exceeds this budget (same
# estimate-gate pattern as the prefix-filter auto-guard).
_BANDS_CANDIDATE_BUDGET = 1e8


def simhash_route(n_rows: int, max_hamming: int) -> tuple[str, float]:
    """The ``mode='auto'`` routing decision of
    :func:`simhash_near_pairs`, exposed so harnesses (and SCALE.md)
    can RECORD which candidate scheme a corpus size selects instead
    of inferring it: returns ``(mode, banded_candidate_estimate)``.
    One definition — the auto path below calls this."""
    est = (
        float(n_rows) * n_rows * (max_hamming + 1)
        / (2.0 ** (64 // (max_hamming + 1)))
    )
    return ("probes" if est > _BANDS_CANDIDATE_BUDGET else "bands", est)


def _probe_plan(
    max_hamming: int,
) -> dict[int, tuple[float, list[int]]]:
    """Cost table for multi-index Hamming probing (HmSearch / Norouzi
    et al.'s multi-index hashing, over the same pigeonhole): split the
    64-bit fingerprint into m chunks; a pair within Hamming h must
    agree within radius r = floor(h/m) on SOME chunk, so enumerating
    every value within r bit flips of each a-side chunk (the probe
    set) against EXACT b-side chunk values preserves full recall while
    the per-chunk collision exponent grows from 64/(h+1) to 64/m bits.
    The banded join is exactly the m = h+1 row of this table (r = 0,
    one probe). Returns {m: (probes_per_chunk, masks...)} for each
    feasible m."""
    import math

    table: dict[int, tuple[float, list[int]]] = {}
    for m in range(1, max_hamming + 2):
        r = max_hamming // m
        # WORST (widest) chunk bounds the literal mask array — the
        # same width the n_chunks validation checks, so a planned m
        # can never fail the pinned-m bound.
        worst_width = max(w for _o, w in _chunk_bounds(m))
        pc = sum(math.comb(worst_width, k) for k in range(r + 1))
        if pc > _PROBE_MASKS_MAX:
            continue  # expression/fan-out bound
        table[m] = (r, pc)
    return table


def _probe_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of ``width`` bits with ≤ ``radius`` bits set,
    ascending popcount — the probe enumeration for one chunk."""
    from itertools import combinations

    masks = [0]
    for k in range(1, radius + 1):
        for bits in combinations(range(width), k):
            mk = 0
            for b in bits:
                mk |= 1 << b
            masks.append(mk)
    return masks


def _pick_probe_m(max_hamming: int, n_rows: int) -> int:
    """Choose the chunk count minimizing estimated shuffled rows:
    a-side probe rows n·m·PC plus expected random-collision candidates
    n²·m·PC/2^w (both sides of the candidate join are shuffles; the
    verify bit_count rides the join). Deterministic given (h, n)."""
    best_m, best_cost = max_hamming + 1, float("inf")
    for m, (r, pc) in _probe_plan(max_hamming).items():
        w = min(wd for _o, wd in _chunk_bounds(m))
        cost = n_rows * m * pc + (
            float(n_rows) * n_rows * m * pc / (2.0 ** w)
        )
        if cost < best_cost:
            best_m, best_cost = m, cost
    return best_m


def simhash_candidates(
    sim_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    mode: str = "bands",
    n_chunks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b, hamming) pairs BEFORE the ≤ max_hamming
    filter — exposed so tests (and capacity planning) can count the
    candidate space each mode generates; :func:`simhash_near_pairs`
    is this plus the distinct + Hamming filter.

    ``mode='bands'``: max_hamming+1 chunks, exact agreement on ≥1
    (pigeonhole, full recall). ``mode='probes'`` (r8 verdict #4):
    FEWER, WIDER chunks with bit-flip probe enumeration — a pair
    within h must agree within r = floor(h/m) flips on some chunk, so
    a-side probes (all values ≤ r flips away) joined against exact
    b-side values keep full recall while the collision exponent grows
    from 2^-(64/(h+1)) to 2^-(64/m); the engineered answer to the
    fixed-64-bit band birthday term n²(h+1)/2^(64/(h+1)) at 10⁹ docs.
    ``n_chunks`` pins m; default picks the cost-minimizing m for the
    observed row count (one count(), the estimate-gate pattern)."""
    if mode not in ("bands", "probes"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "bands":
        m = max_hamming + 1
        radius = 0
    else:
        m = n_chunks or _pick_probe_m(
            max_hamming,
            sim_df.count() if n_rows is None else n_rows,
        )
        if not 1 <= m <= max_hamming + 1:
            raise ValueError(
                f"n_chunks must be in [1, {max_hamming + 1}], got {m}"
            )
        radius = max_hamming // m
        # A PINNED n_chunks must obey the same enumeration bound the
        # planner enforces (r9 review): m=2 at h=15 is radius 7 over
        # 32-bit chunks — ~4.5M literal masks per chunk, the r5
        # expression-tree lesson re-exposed through the API.
        import math

        worst_width = max(w for _o, w in _chunk_bounds(m))
        pc = sum(math.comb(worst_width, k) for k in range(radius + 1))
        if pc > _PROBE_MASKS_MAX:
            raise ValueError(
                f"n_chunks={m} at max_hamming={max_hamming} needs "
                f"{pc} probe masks per chunk (> _PROBE_MASKS_MAX="
                f"{_PROBE_MASKS_MAX}); raise n_chunks (narrower "
                "probes) or leave it unset for the cost-planned m"
            )
    bounds = _chunk_bounds(m)

    def _chunk_val(off: int, width: int) -> Column:
        if width >= 64:  # whole fingerprint — mask literal overflows
            return F.col("simhash")
        return F.shiftright("simhash", off).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    # b-side: exact chunk values (one row per chunk).
    exact = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                _chunk_val(off, width).alias("chunk_val"),
            )
            for c, (off, width) in enumerate(bounds)
        ]
    )
    b = (
        sim_df.select(
            F.col(id_col), F.col("simhash"), F.explode(exact).alias("ck")
        )
        .select(id_col, "simhash", "ck.chunk", "ck.chunk_val")
        .alias("b")
    )
    if radius == 0:
        a = b.alias("a")  # bands: probes ≡ exact values
    else:
        # a-side: per chunk, every value within `radius` bit flips —
        # one flat literal mask array per chunk (bounded by
        # _PROBE_MASKS_MAX), XORed in via transform, ONE explode for
        # the whole (chunk, probe) fan-out.
        # NOTE the probe lambda must be UNARY: a default-arg closure
        # (lambda mk, _cv=cv: ...) reads to F.transform as the binary
        # (element, index) form and silently binds the captured column
        # to the INDEX — a one-element-found recall bug, caught by the
        # exactness test.
        def _probe_fn(c: int, cv: Column):
            return lambda mk: F.struct(
                F.lit(c).alias("chunk"),
                cv.bitwiseXOR(mk).alias("chunk_val"),
            )

        probe_structs = []
        for c, (off, width) in enumerate(bounds):
            # Two's-complement fold for the m=1 whole-fingerprint
            # chunk (r9 review): the 1<<63 flip mask overflows a
            # signed-long literal; XOR is bitwise, so the signed
            # reinterpretation is value-identical.
            masks = [
                mk - (1 << 64) if mk >= (1 << 63) else mk
                for mk in _probe_masks(width, radius)
            ]
            cv = _chunk_val(off, width)
            probe_structs.append(
                F.transform(
                    F.array(*[F.lit(mk) for mk in masks]),
                    _probe_fn(c, cv),
                )
            )
        a = (
            sim_df.select(
                F.col(id_col),
                F.col("simhash"),
                F.explode(F.concat(*probe_structs)).alias("ck"),
            )
            .select(id_col, "simhash", "ck.chunk", "ck.chunk_val")
            .alias("a")
        )
    return a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.chunk_val") == F.col("b.chunk_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
        ).alias("hamming"),
    )


def simhash_near_pairs(
    sim_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    reliable: bool = False,
    mode: str = "bands",
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance ≤ ``max_hamming``.

    Candidate generation: split the 64-bit fingerprint into
    ``max_hamming + 1`` chunks — a pair differing in ≤ max_hamming
    bits cannot touch every chunk (pigeonhole), so it agrees exactly
    on ≥1 chunk and an equi-join per chunk finds all of them with
    FULL recall, no cross join. Verification: ``bit_count(a XOR b)``.
    More chunks = narrower chunks = more candidate collisions, so
    ``max_hamming`` is capped at 15 (chunks stay ≥ 4 bits — beyond
    that the candidate join degenerates toward all-pairs).
    ``max_hamming=0`` is exact-fingerprint matching: a single 64-bit
    chunk, joined on the fingerprint directly (no shift/mask — the
    full-width mask literal would overflow a signed long).

    ``mode`` (r8 verdict #4): ``'bands'`` is the scheme above;
    ``'probes'`` trades it for fewer, WIDER chunks with bit-flip probe
    enumeration (HmSearch-style — see :func:`simhash_candidates`),
    preserving exact recall while shrinking the per-chunk collision
    probability from 2^-(64/(h+1)) to 2^-(64/m): the mitigation for
    the band birthday term that makes banded joins quadratic on 10⁹
    collision-free fingerprints. ``'auto'`` routes to probes when the
    banded estimate n²(h+1)/2^(64/(h+1)) exceeds the candidate budget
    (one count() — the estimate-gate pattern; answers are identical
    either way, plan-shape only)."""
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming}"
        )
    if mode not in ("bands", "probes", "auto"):
        raise ValueError(f"unknown mode {mode!r}")
    # Both sides of the chunk self-join read sim_df; materialize so the
    # upstream fingerprint pipeline (token explode + 64 bit votes)
    # executes once, not once per branch.
    sim_df = cut_lineage(sim_df, reliable)
    n_rows = None
    if mode == "auto":
        n_rows = sim_df.count()
        mode, _est = simhash_route(n_rows, max_hamming)
    cands = simhash_candidates(
        sim_df, id_col, max_hamming, mode=mode, n_chunks=n_chunks,
        n_rows=n_rows,
    )
    return cands.distinct().filter(F.col("hamming") <= max_hamming)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    reliable: bool = False,
) -> DataFrame:
    """Connected components by iterative min-label propagation: turn
    pairwise near-dup EDGES into dedup CLUSTERS (component id = min
    node id in the component — the canonical "keep one per cluster"
    step after MinHash/SimHash pair generation).

    Each iteration: every node takes the min of its own label and its
    neighbors' labels; converged when no label changes. Iterations are
    bounded by the graph diameter (near-dup graphs are shallow — dup
    clusters are cliques or near-cliques, so 2-4 rounds typical).

    Scale notes: the per-iteration work is one groupBy(dst).min over
    the edge list — a single shuffle keyed by node id. Lineage is cut
    per round so 50 iterations don't stack 50 plans; ``reliable=True``
    writes the cuts to the configured checkpoint dir so an executor
    loss mid-iteration doesn't kill a cluster run (``ext.lineage``).
    For 100 TB graphs with long chains, switch to the
    large-star/small-star rewrite (Kiveris et al., "Connected
    Components in MapReduce"), which converges in O(log²) rounds;
    near-dup dedup never needs it.
    """
    # Materialize the (symmetrized) edge list ONCE before iterating:
    # it is referenced in every round, and without a checkpoint the
    # entire upstream pair-generation plan (shingle → candidate join →
    # verify — the expensive part) would re-execute per iteration.
    sym = cut_lineage(
        edges.selectExpr(f"{src} AS s", f"{dst} AS d")
        .unionAll(edges.selectExpr(f"{dst} AS s", f"{src} AS d")),
        reliable,
    )
    comp = cut_lineage(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        reliable,
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(comp, sym["s"] == comp["node"])
            .groupBy(sym["d"].alias("node2"))
            .agg(F.min("comp").alias("nmin"))
        )
        updated = (
            comp.join(
                neighbor_min, comp["node"] == neighbor_min["node2"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("_chg"),
            )
        )
        updated = cut_lineage(updated, reliable)
        changed = updated.filter(F.col("_chg")).limit(1).count()
        comp = updated.drop("_chg")
        if changed == 0:
            break
    return comp


# ---------------------------------------------------------------------
# Incremental dedup against a persisted signature store
# ---------------------------------------------------------------------


def incremental_minhash_dedup(
    spark,
    new_docs: DataFrame,
    store_path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    hash_band_key: bool = True,
    commit: bool = True,
    reliable: bool = False,
) -> tuple[DataFrame, int | None]:
    """Near-dup pairs of a NEW batch against an ever-growing corpus,
    without ever re-scanning the corpus text — the production shape of
    dedup at 100 TB: the daily increment is signatures + a band join
    against the persisted SIGNATURE STORE (n_docs × k hashes, orders
    of magnitude under the text), not a full-corpus recompute.

    Mechanics:

    - New-batch signatures compute with the shuffle-free mapside path
      (``minhash_signatures_mapside``) straight off the batch scan.
    - The store is a VERSIONED table (``io/versioned.py``). With
      ``commit=True`` the batch's signatures are appended FIRST and
      pairs are computed against the snapshot that commit produced —
      so when two ingests race, the later-committed run's snapshot
      provably contains the earlier run's docs and emits every
      cross-batch pair (optimistic-concurrency safe, and
      time-travelable: "which store state did Tuesday's run dedup
      against?" is its returned version number).
    - Candidates: batch bands equi-join (store ∪ batch) bands with the
      predicate ``(b not new) OR (id_a < id_b)`` — every new-vs-old
      pair once, every new-vs-new pair once, and NEVER an old-vs-old
      pair (those were emitted by the runs that ingested them, so the
      lifetime union of outputs equals the full-corpus pair set;
      pytest-asserted).
    - Verification: agreement-fraction Jaccard estimate from the
      combined signature table, ``>= threshold``.

    Returns ``(pairs, committed_version)`` — pairs is
    (id_a = new doc, id_b = any doc, est_jaccard); ``committed_version``
    is None when ``commit=False`` (dry-run) or on first-ever run
    returns the version that CREATED the store.
    """
    from deftunes_spark.io.versioned import (
        list_versions,
        read_version,
        write_versioned,
    )

    new_sig = cut_lineage(
        minhash_signatures_mapside(
            new_docs, id_col, text_col, n, num_hashes, hash_fn
        ),
        reliable,
    )
    version: int | None = None
    if commit:
        # COMMIT FIRST, then dedup against the snapshot OUR commit
        # produced. This is what makes the lifetime-union invariant
        # hold under CONCURRENT ingests: if runs A and B race from the
        # same base, write_versioned serializes them (vA < vB), and
        # B's snapshot at vB contains A's signatures — so the
        # cross-batch pair (a∈A, b∈B) is emitted by exactly the run
        # whose commit landed later. Computing pairs against the
        # PRE-commit snapshot (the old flow) lost such pairs forever:
        # neither racer saw the other, and both docs were "old" to
        # every later run.
        version = write_versioned(
            spark, new_sig, store_path, mode="append"
        )
        snapshot = read_version(spark, store_path, version=version)
        flags = new_sig.select(F.col(id_col)).distinct().withColumn(
            "_nf", F.lit(True)
        )
        all_sig = (
            snapshot.join(flags, id_col, "left")
            .withColumn("_is_new", F.coalesce(F.col("_nf"), F.lit(False)))
            .drop("_nf")
        )
    else:
        # Dry-run: batch vs the current latest snapshot, nothing
        # written (racing dry-runs make no durability claims).
        have_store = bool(list_versions(spark, store_path))
        if have_store:
            store_sig = read_version(spark, store_path)
            all_sig = store_sig.withColumn(
                "_is_new", F.lit(False)
            ).unionByName(new_sig.withColumn("_is_new", F.lit(True)))
        else:
            all_sig = new_sig.withColumn("_is_new", F.lit(True))

    banded = _banded_keys(
        all_sig, id_col, num_hashes, bands, hash_band_key,
        carry_cols=("_is_new",),
    )
    a = banded.filter(F.col("_is_new")).alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (
                (~F.col("b._is_new"))
                & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
                | (F.col("b._is_new"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    est = minhash_estimate_jaccard(
        all_sig.drop("_is_new"), pairs, id_col, num_hashes
    )
    out = est.filter(F.col("est_jaccard") >= threshold)
    return out, version


def blocked_fuzzy_pairs(
    df,
    id_col: str,
    name_col: str,
    block_expr=None,
    max_distance: int = 1,
):
    """Entity resolution: near-identical name pairs via BLOCKED edit
    distance — the classic record-linkage shape. An all-pairs
    levenshtein is O(n²) and impossible at scale; blocking buckets
    candidates by a cheap key (default: string length + prefix) so
    the quadratic comparison runs only inside buckets, exactly like
    the MinHash band join bounds the Jaccard comparison.

    Recall boundary (standard for blocking): a pair differing inside
    the blocking prefix lands in different buckets and is missed —
    production linkage runs MULTIPLE passes with complementary keys
    (prefix, suffix, phonetic) and unions the pairs; this operator is
    one such pass, composable by union. Length is NOT part of the
    default block key — an insertion/deletion edit changes the length,
    so length-exact blocking would silently exclude the entire
    insert/delete class; instead a length BAND (|len_a − len_b| ≤
    max_distance, implied by the edit-distance bound) rides the join
    predicate.

    Returns (id_a, id_b, name_a, name_b, distance), id_a < id_b.
    """
    from pyspark.sql import functions as F

    if block_expr is None:
        block_expr = F.substring(F.col(name_col), 1, 16)
    keyed = df.select(
        F.col(id_col),
        F.col(name_col),
        block_expr.alias("_blk"),
        F.length(name_col).alias("_len"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.abs(F.col("a._len") - F.col("b._len"))
                <= max_distance
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{name_col}").alias("name_a"),
            F.col(f"b.{name_col}").alias("name_b"),
            F.levenshtein(
                F.col(f"a.{name_col}"), F.col(f"b.{name_col}")
            ).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
