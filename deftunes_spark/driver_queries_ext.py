"""Driver queries for the north-star extension operators (BASELINE
"north_star": dedup, similarity search, multimodal columns, text
analysis, streaming-windowed events).

Registered into the same QUERIES/ORACLES maps as the core set.
Oracle-less entries (hash-function-dependent: MinHash/SimHash/LSH) get
the driver's rows-only check; their numeric correctness is covered by
pytest against planted duplicates and brute-force ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deftunes_spark.driver_queries import ORACLES, _t, _t_cpu, query
from deftunes_spark.ext import dedup as D
from deftunes_spark.ext import multimodal as M
from deftunes_spark.ext import similarity as S
from deftunes_spark.ext import text as X
from deftunes_spark.io.scratch import scratch_dir as _scratch
from deftunes_spark.streaming.windows import (
    run_stream_once,
    session_stats_batch,
    sliding_agg_batch,
    tumbling_agg_batch,
)

# =====================================================================
# Deduplication
# =====================================================================


@query(
    "dedup_exact",
    """
    SELECT md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
               AS normalized_fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized content fingerprint: one
    hash-shuffle groupBy; representative = min doc_id."""
    docs = X.with_fingerprint(_t_cpu(spark, sf_dir, "documents"))
    return D.exact_dedup(docs, ["normalized_fingerprint"], "doc_id")


@query(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS common
        FROM toks a JOIN toks b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE)
               / CAST(sa.set_size + sb.set_size - common AS DOUBLE)
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(common AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - common AS DOUBLE) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs (n=1 here so the synthetic corpus
    yields non-trivial overlap); candidates via shared-shingle
    equi-join, never a cross join."""
    docs = _t_cpu(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.5
    )


def _minhash_oracle(
    n: int = 2, num_hashes: int = 32, bands: int = 8, threshold: float = 0.3,
    relation: str = "documents",
) -> str:
    """DuckDB mirror of ``minhash_dedup_pairs(hash_fn='md5',
    hash_band_key=False)``: same shingling, same seeded-md5 minwise
    order (min over lowercase hex strings is identical in both
    engines), same banded equi-join on the concatenated signature
    strings, same agreement-fraction estimate."""
    rows = num_hashes // bands
    sigs = ", ".join(
        f"min(md5('{s}|' || shingle)) AS mh_{s}" for s in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs".format(
            b=b,
            key="||','||".join(
                f"mh_{b * rows + r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh_{s} = sb.mh_{s} THEN 1 ELSE 0 END"
        for s in range(num_hashes)
    )
    return f"""
    WITH toklist AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM {relation}
    ), sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
        FROM toklist,
             UNNEST(range(1, greatest(len(toks) - {n - 1}, 1) + 1)) AS t(i)
    ), sigs AS (
        SELECT doc_id, {sigs} FROM sh GROUP BY doc_id
    ), bands AS (
        {band_selects}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), est AS (
        SELECT id_a, id_b, ({matches}) / {float(num_hashes)} AS est_jaccard
        FROM pairs
        JOIN sigs sa ON sa.doc_id = id_a
        JOIN sigs sb ON sb.doc_id = id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           est_jaccard
    FROM est WHERE est_jaccard >= {threshold}
    """


@query("dedup_minhash", _minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands) near-dup pairs on word 2-shingles.

    Driver variant runs the md5 / raw-band-key path so the whole
    pipeline (shingle → seeded minwise hash → band join → estimate) is
    value-checked against the DuckDB oracle; production default stays
    xxhash64 (recall/precision asserted in tests against planted dups).
    """
    docs = _t_cpu(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        docs,
        "doc_id",
        "text",
        n=2,
        num_hashes=32,
        bands=8,
        threshold=0.3,
        hash_fn="md5",
        hash_band_key=False,
        dict_hashes=True,  # hash per distinct shingle, not per row
    )


@query("dedup_minhash_fast")
def q_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash path: xxhash64 minwise hashes + hashed band
    keys (one BIGINT per band instead of a concatenated string).

    This is the plan users get by default and the one that holds at
    100 TB — JVM xxhash64 is ~10× cheaper than md5-hex, and hashing the
    band key shrinks the LSH shuffle payload to 16 bytes/row. No DuckDB
    oracle (xxhash64 is Spark-specific) → driver records the rows-only
    check; parity: the md5 twin ``dedup_minhash`` — registered
    IMMEDIATELY above so both rotate into the same driver sample —
    carries the full value-hash oracle for the identical pipeline
    shape, and recall/precision vs planted duplicates is asserted in
    tests/test_dedup.py. ``audit_ok`` pins the pair invariants in the
    recorded rows: ordered pair, estimate within [threshold, 1].
    """
    docs = _t_cpu(spark, sf_dir, "documents")
    out = D.minhash_dedup_pairs(
        docs,
        "doc_id",
        "text",
        n=2,
        num_hashes=32,
        bands=8,
        threshold=0.3,
        hash_fn="xxhash64",
        hash_band_key=True,
    )
    return out.withColumn(
        "audit_ok",
        (F.col("id_a") < F.col("id_b"))
        & F.col("est_jaccard").between(0.3, 1.0),
    )


def _minhash_mapside_oracle(
    n: int = 2, num_hashes: int = 32, bands: int = 8, threshold: float = 0.3
) -> str:
    """DuckDB mirror of the MAPSIDE signature algebra
    (``minhash_signatures_mapside``): signatures are computed PER ROW
    as ``list_min(list_transform(shingle_list, s -> md5(seed || s)))``
    — the exact per-row fold Spark runs (``array_min`` over a
    ``transform`` of the shingle array), not the exploded
    groupBy-of-mins the ``dedup_minhash`` oracle mirrors. The shingle
    list keeps duplicates on both sides (min is duplicate-insensitive,
    so the result matches the distinct-set path — that equivalence is
    exactly what this oracle proves in the hard signal). Banding,
    candidate join, and agreement-fraction estimate mirror the raw
    string-key path."""
    rows = num_hashes // bands
    sig_lambdas = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{s}|' || s))) AS mh_{s}"
        for s in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs".format(
            b=b,
            key="||','||".join(
                f"mh_{b * rows + r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh_{s} = sb.mh_{s} THEN 1 ELSE 0 END"
        for s in range(num_hashes)
    )
    return f"""
    WITH toklist AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), shlist AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(toks) - {n - 1}, 1) + 1),
                   i -> array_to_string(toks[i:i+{n - 1}], ' ')
               ) AS sh
        FROM toklist
    ), sigs AS (
        SELECT doc_id, {sig_lambdas} FROM shlist
    ), bands AS (
        {band_selects}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), est AS (
        SELECT id_a, id_b, ({matches}) / {float(num_hashes)} AS est_jaccard
        FROM pairs
        JOIN sigs sa ON sa.doc_id = id_a
        JOIN sigs sb ON sb.doc_id = id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           est_jaccard
    FROM est WHERE est_jaccard >= {threshold}
    """


@query("dedup_minhash_mapside_md5", _minhash_mapside_oracle())
def q_dedup_minhash_mapside_md5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shuffle-free signature stage under the full value-hash oracle:
    the MAPSIDE minhash path (per-row ``array_min`` over a transform
    of the shingle array — zero Exchange before the band join,
    plan-asserted in tests/test_plans.py) run with md5 so DuckDB's
    list lambdas can mirror it hash-for-hash. ``dedup_minhash``
    value-checks the exploded/shuffle algebra; this entry value-checks
    the mapside algebra itself, closing the rows-only gap on the
    production signature strategy (``dedup_minhash_fast`` stays the
    pure-speed xxhash64 variant)."""
    docs = _t_cpu(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return D.minhash_dedup_pairs(
        docs,
        "doc_id",
        "text",
        n=2,
        num_hashes=32,
        bands=8,
        threshold=0.3,
        hash_fn="md5",
        hash_band_key=False,
        signature_strategy="mapside",
    )


def _minhash_incremental_oracle(
    n: int = 2, num_hashes: int = 32, bands: int = 8, threshold: float = 0.3
) -> str:
    """DuckDB mirror of ``incremental_minhash_dedup`` (md5 mapside
    signatures, raw band keys) with the corpus split old/new on
    ``doc_id % 3``: pairs pair a NEW doc against anything, old-vs-old
    never — the predicate ``(b old AND id_a != id_b) OR (b new AND
    id_a < id_b)`` verbatim."""
    rows = num_hashes // bands
    sig_lambdas = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{s}|' || s))) AS mh_{s}"
        for s in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, is_new, {b} AS band, {key} AS band_key "
        "FROM sigs".format(
            b=b,
            key="||','||".join(
                f"mh_{b * rows + r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh_{s} = sb.mh_{s} THEN 1 ELSE 0 END"
        for s in range(num_hashes)
    )
    return f"""
    WITH toklist AS (
        SELECT doc_id, doc_id % 3 = 0 AS is_new,
               regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), shlist AS (
        SELECT doc_id, is_new,
               list_transform(
                   range(1, greatest(len(toks) - {n - 1}, 1) + 1),
                   i -> array_to_string(toks[i:i+{n - 1}], ' ')
               ) AS sh
        FROM toklist
    ), sigs AS (
        SELECT doc_id, is_new, {sig_lambdas} FROM shlist
    ), bands AS (
        {band_selects}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.is_new
         AND ((NOT b.is_new AND a.doc_id != b.doc_id)
              OR (b.is_new AND a.doc_id < b.doc_id))
    ), est AS (
        SELECT id_a, id_b, ({matches}) / {float(num_hashes)} AS est_jaccard
        FROM pairs
        JOIN sigs sa ON sa.doc_id = id_a
        JOIN sigs sb ON sb.doc_id = id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           est_jaccard
    FROM est WHERE est_jaccard >= {threshold}
    """


@query("dedup_incremental", _minhash_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted signature store: the
    corpus splits old/new on doc_id % 3; run 1 ingests the old docs'
    signatures into a versioned store (its pairs discarded — they were
    'that day's' output), run 2 dedups the new batch against the
    store, emitting every new-vs-old and new-vs-new pair once and NO
    old-vs-old pair. md5 + raw band keys so DuckDB mirrors the whole
    chain; the xxhash64 production path and the lifetime-union
    property are pytest-asserted (tests/test_dedup.py)."""

    docs = _t_cpu(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    store = _scratch("incdedup", sf_dir) + "/store"
    kw = dict(
        n=2, num_hashes=32, bands=8, threshold=0.3,
        hash_fn="md5", hash_band_key=False,
    )
    D.incremental_minhash_dedup(
        spark, old, store, "doc_id", "text", **kw
    )
    pairs, _v = D.incremental_minhash_dedup(
        spark, new, store, "doc_id", "text", **kw
    )
    return pairs


@query("dedup_incremental_fast")
def q_dedup_incremental_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production twin of ``dedup_incremental``: identical two-run
    store shape (ingest old docs' signatures, dedup the new batch
    against the versioned store) but on the xxhash64 + hashed-band-key
    fast path users actually run — benched so the 100 TB plan's cost
    is tracked, while the md5 twin above carries the value-hash
    oracle. Rows-only check; signature/band algebra parity with the
    oracle path is pytest-asserted (tests/test_dedup.py). ``audit_ok``
    (r6 verdict #6) pins the incremental-pair invariants: estimate in
    [threshold, 1] and the pair is genuinely cross-batch or in-batch
    ordered (id_a != id_b)."""

    docs = _t_cpu(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    store = _scratch("incfast", sf_dir) + "/store"
    kw = dict(
        n=2, num_hashes=32, bands=8, threshold=0.3,
        hash_fn="xxhash64", hash_band_key=True,
    )
    D.incremental_minhash_dedup(
        spark, old, store, "doc_id", "text", **kw
    )
    pairs, _v = D.incremental_minhash_dedup(
        spark, new, store, "doc_id", "text", **kw
    )
    return pairs.withColumn(
        "audit_ok",
        (F.col("id_a") != F.col("id_b"))
        & F.col("est_jaccard").between(0.3, 1.0),
    )


def _simhash_oracle(max_hamming: int = 8) -> str:
    """DuckDB mirror of ``simhash64(hash_fn='md5')`` +
    ``simhash_near_pairs``: bit i of a token's hash = bit ``i % 4`` of
    hex digit ``i // 4`` of md5(token); per-doc bit votes; fingerprint
    kept as a 64-char '0'/'1' string (LSB first) so chunking is
    substring equality and Hamming distance is a character mismatch
    count — no 64-bit signed overflow anywhere in SQL."""
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)
    bounds = []
    off = 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((off, width))
        off += width
    votes = ", ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', "
        f"substr(h, {i // 4 + 1}, 1)) - 1) >> {i % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(64)
    )
    fb = "concat(" + ", ".join(
        f"CASE WHEN v_{i} > 0 THEN '1' ELSE '0' END" for i in range(64)
    ) + ")"
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, fb, {c} AS chunk, "
        f"substr(fb, {off + 1}, {width}) AS ck FROM fp"
        for c, (off, width) in enumerate(bounds)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t
        FROM documents
    ), th AS (
        SELECT doc_id, md5(t) AS h FROM tok
    ), votes AS (
        SELECT doc_id, {votes} FROM th GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, {fb} AS fb FROM votes
    ), chunks AS (
        {chunk_selects}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.fb AS fb_a, b.fb AS fb_b
        FROM chunks a JOIN chunks b
          ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
    ), ham AS (
        SELECT id_a, id_b,
               len(list_filter(range(64), i ->
                   substr(fb_a, CAST(i + 1 AS INT), 1)
                   <> substr(fb_b, CAST(i + 1 AS INT), 1))) AS hamming
        FROM pairs
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(hamming AS INT) AS hamming
    FROM ham WHERE hamming <= {max_hamming}
    """


@query("dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 near-dup pairs, Hamming ≤ 8, chunked candidate join.

    Driver variant uses the md5-derived bit hash so fingerprints,
    chunk collisions, and Hamming distances are all value-checked
    against the DuckDB oracle; production default stays xxhash64."""
    docs = _t_cpu(spark, sf_dir, "documents")
    sims = D.simhash64(
        docs, "doc_id", "text", hash_fn="md5", dict_hashes=True
    )
    pairs = D.simhash_near_pairs(sims, "doc_id", max_hamming=8)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# =====================================================================
# Text analysis
# =====================================================================


# Shared DuckDB expressions mirroring ext/text.py exactly (token count
# matches Python str.split(): empty tokens filtered out).
TOK_SQL = (
    "len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> ''))"
)
_ALPHA_SQL = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) ELSE 0.0 END"
)
_DIGIT_SQL = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) ELSE 0.0 END"
)
_AVGTOK_SQL = (
    f"CASE WHEN {TOK_SQL} > 0 THEN "
    f"CAST(length(text) AS DOUBLE) / {TOK_SQL} ELSE 0.0 END"
)
QSCORE_SQL = (
    f"greatest(0.0, least(1.0, ({_ALPHA_SQL}) - ({_DIGIT_SQL})"
    f" - greatest(0.0, abs({_AVGTOK_SQL} - 6.0) - 3.0) * 0.1))"
)


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST({TOK_SQL} AS BIGINT) AS token_count,
           {_ALPHA_SQL} AS alpha_ratio,
           {QSCORE_SQL} AS quality_score
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: char-class ratios + token stats, one codegen
    scan, no UDFs."""
    docs = X.with_quality_score(_t_cpu(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", "token_count", "alpha_ratio", "quality_score"
    )


def _lang_scored_parts() -> tuple[str, str]:
    """(scored-CTE column list, lang_pred CASE) of the marker-word
    language ID — shared by the ``text_lang_id`` oracle and the
    ``lang_mismatch_audit`` oracle so both mirror the identical
    heuristic."""
    score = {
        lang: (
            "CAST(len(regexp_extract_all(text, '(?i)\\b("
            + "|".join(words)
            + ")\\b')) AS DOUBLE)"
        )
        for lang, words in X.LANG_MARKERS.items()
    }
    score["zh"] = (
        "CAST(length(text) - length(regexp_replace(text,"
        " '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)"
    )
    cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    best = "greatest(" + ", ".join(f"s_{k}" for k in score) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in score
    ) + " ELSE 'und' END"
    return cols, case


def _lang_oracle() -> str:
    cols, case = _lang_scored_parts()
    return (
        f"WITH scored AS (SELECT doc_id, {cols} FROM documents) "
        f"SELECT doc_id, {case} AS lang_pred FROM scored"
    )


@query("text_lang_id", _lang_oracle())
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word / Han-script language ID (one regexp pass per
    candidate language)."""
    docs = X.with_lang_id(_t_cpu(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang_pred")


def _lang_mismatch_oracle() -> str:
    cols, case = _lang_scored_parts()
    return f"""
    WITH scored AS (
        SELECT doc_id, source, lang, {cols} FROM documents
    ), pred AS (
        SELECT source, lang, {case} AS lang_pred FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang != lang_pred THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           round(sum(CASE WHEN lang != lang_pred THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS mismatch_rate
    FROM pred GROUP BY 1
    """


@query("lang_mismatch_audit", _lang_mismatch_oracle())
def q_lang_mismatch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language audit: per source, how often the
    declared ``lang`` column disagrees with the marker-word language
    ID — the corpus-governance number that catches mislabeled
    partitions and wrong-language spillover BEFORE a lang-filtered
    training mix is built on the metadata. Scan-speed lang ID (pure
    codegen projection) + one source-keyed aggregate; output is
    |sources| rows."""
    docs = X.with_lang_id(_t_cpu(spark, sf_dir, "documents"))
    mism = F.when(F.col("lang") != F.col("lang_pred"), 1).otherwise(0)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(mism).cast("bigint").alias("n_mismatch"),
        F.round(
            F.sum(mism) / F.count(F.lit(1)).cast("double"), 6
        ).alias("mismatch_rate"),
    )


def _script_profile_oracle() -> str:
    import re as _re

    def _re2(cls: str) -> str:
        # Java \uXXXX escapes → RE2 \x{XXXX} for DuckDB.
        return _re.sub(
            r"\\u([0-9a-fA-F]{4})", r"\\x{\1}", cls
        )

    counts = ", ".join(
        "length(t) - length(regexp_replace(t, '"
        + _re2(cls)
        + f"', '', 'g')) AS n_{name}"
        for name, cls in X.SCRIPT_CLASSES.items()
    )
    names = list(X.SCRIPT_CLASSES)
    best = "greatest(" + ", ".join(f"n_{k}" for k in names) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND n_{k} = {best} THEN '{k}'" for k in names
    ) + " ELSE 'other' END"
    ratios = ", ".join(
        f"n_{k}, CASE WHEN ns > 0 THEN round(n_{k} / CAST(ns AS "
        f"DOUBLE), 6) END AS ratio_{k}"
        for k in names
    )
    return f"""
    WITH base AS (
        SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), c AS (
        SELECT doc_id,
               length(regexp_replace(t, '{X.WS_CLASS}', '', 'g')) AS ns,
               {counts}
        FROM base
    )
    SELECT doc_id, CAST(ns AS BIGINT) AS n_chars_nonspace, {ratios},
           {case} AS dominant_script
    FROM c
    """


@query("text_script_profile", _script_profile_oracle())
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script character profile (ext.text.with_script_profile):
    per-script char counts + non-whitespace ratios + dominant script —
    the script-mix cut (mojibake, mixed-script spam, wrong-script
    spillover) a multilingual pipeline applies before any model-based
    language ID. One codegen projection, explicit codepoint-range
    classes so Java regex and RE2 evaluate the identical pattern."""
    docs = X.with_script_profile(_t_cpu(spark, sf_dir, "documents"))
    cols = ["doc_id", "n_chars_nonspace"]
    for name in X.SCRIPT_CLASSES:
        cols += [f"n_{name}", f"ratio_{name}"]
    cols.append("dominant_script")
    return docs.select(*cols)


@query(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(text) AS fingerprint,
           md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
               AS normalized_fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = X.with_fingerprint(_t_cpu(spark, sf_dir, "documents"))
    return docs.select("doc_id", "fingerprint", "normalized_fingerprint")


# =====================================================================
# Similarity search
# =====================================================================


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


@query(
    "embedding_topk",
    """
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
        SELECT vec_id,
               round(
                   list_dot_product(embedding::DOUBLE[], (SELECT qv FROM q))
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product((SELECT qv FROM q),
                                              (SELECT qv FROM q)))),
                   6) AS cosine_sim
        FROM embeddings
    )
    SELECT vec_id, cosine_sim FROM scored
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (``S.cosine_topk``: TakeOrdered —
    per-partition top-k then driver merge, no global sort)."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


_MAT_DIMS = 16
_MAT_K = 20

_MATRYOSHKA_ORACLE = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv,
           (embedding::DOUBLE[])[1:{_MAT_DIMS}] AS qt
    FROM embeddings WHERE vec_id = 0
), fs AS (
    SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], (SELECT qv FROM q))
               / (sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]))
                  * sqrt(list_dot_product((SELECT qv FROM q),
                                          (SELECT qv FROM q)))), 6) AS c
    FROM embeddings
), fr AS (
    SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rank_f
    FROM fs ORDER BY c DESC, vec_id LIMIT {_MAT_K}
), ts AS (
    SELECT vec_id,
           round(list_dot_product((embedding::DOUBLE[])[1:{_MAT_DIMS}],
                                  (SELECT qt FROM q))
               / (sqrt(list_dot_product(
                       (embedding::DOUBLE[])[1:{_MAT_DIMS}],
                       (embedding::DOUBLE[])[1:{_MAT_DIMS}]))
                  * sqrt(list_dot_product((SELECT qt FROM q),
                                          (SELECT qt FROM q)))), 6) AS c
    FROM embeddings
), tr AS (
    SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rank_t
    FROM ts ORDER BY c DESC, vec_id LIMIT {_MAT_K}
), j AS (
    SELECT coalesce(fr.vec_id, tr.vec_id) AS vec_id, rank_f, rank_t
    FROM fr FULL OUTER JOIN tr ON fr.vec_id = tr.vec_id
), o AS (
    SELECT 5 AS k,
           count(*) FILTER (rank_f <= 5 AND rank_t <= 5) AS n_overlap
    FROM j
    UNION ALL
    SELECT 10, count(*) FILTER (rank_f <= 10 AND rank_t <= 10) FROM j
    UNION ALL
    SELECT {_MAT_K},
           count(*) FILTER (rank_f <= {_MAT_K} AND rank_t <= {_MAT_K})
    FROM j
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_overlap AS BIGINT) AS n_overlap,
       round(n_overlap / CAST(k AS DOUBLE), 6) AS recall
FROM o
"""


@query("matryoshka_recall", _MATRYOSHKA_ORACLE)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality (Kusupati et al. 2022 / MRL):
    recall@k of brute-force cosine retrieval using only the FIRST 16
    of 64 embedding dims against the full-dim ranking — the number
    that decides whether a 4× scan/cache/shuffle saving
    (ext.similarity.matryoshka_truncate) is affordable for a given
    corpus. Both rankings are TakeOrdered top-K (never a global
    sort); the rank windows run over ≤ K rows (a constant). Cosine is
    normalization-invariant, so the evaluation slices without
    renormalizing."""
    from pyspark.sql.window import Window

    emb = _t_cpu(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)

    def ranked(df, q, vec_col, alias):
        w = Window.orderBy(F.col("cosine_sim").desc(), "vec_id")
        return S.cosine_topk(df, q, _MAT_K, vec_col=vec_col).select(
            "vec_id", F.row_number().over(w).alias(alias)
        )

    full = ranked(emb, qv, "embedding", "rank_f")
    trunc = ranked(
        emb.withColumn(
            "_et", F.slice("embedding", 1, _MAT_DIMS)
        ),
        qv[:_MAT_DIMS],
        "_et",
        "rank_t",
    )
    j = full.join(trunc, "vec_id", "full")
    agg = j.agg(
        *[
            F.sum(
                F.when(
                    (F.col("rank_f") <= k) & (F.col("rank_t") <= k), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"o{k}")
            for k in (5, 10, _MAT_K)
        ]
    )
    return agg.selectExpr(
        f"stack(3, 5, o5, 10, o10, {_MAT_K}, o{_MAT_K})"
        " as (k, n_overlap)"
    ).select(
        F.col("k").cast("bigint").alias("k"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double")
            / F.col("k").cast("double"),
            6,
        ).alias("recall"),
    )


# ---- Deterministic ANN fixtures -------------------------------------
# The driver's value-hash oracle needs both sides to see the SAME
# hyperplanes / centroids / query vector, so the driver variants bake
# them in as literals generated from seeded numpy at import time (the
# testdata embedding dim is fixed at 64; both the Spark expressions and
# the DuckDB SQL embed the exact same repr-round-tripped doubles, and
# both engines fold float32 embeddings to float64 losslessly and sum
# dot products left-to-right — bit-identical arithmetic).
import numpy as _np

_EMB_DIM = 64
_ANN_PLANES = S.random_hyperplanes(_EMB_DIM, n_bits=8, seed=42)
_NEARDUP_PLANES = S.random_hyperplanes(_EMB_DIM, n_bits=4, seed=42)
_ANN_QUERY = [
    float(x) for x in _np.random.RandomState(7).randn(_EMB_DIM)
]
_ANN_QUERY_NORM = float(_np.linalg.norm(_np.asarray(_ANN_QUERY)))
_IVF_CENTROIDS = [
    [float(x) for x in row]
    for row in _np.random.RandomState(11).randn(8, _EMB_DIM) * 0.5
]
# The probe set is computed once here, so the Spark queries and the
# SQL oracles can never diverge on it.
_IVF_PROBE = S.ivf_probe_lists(_IVF_CENTROIDS, _ANN_QUERY, 3)


def _sql_vec(vec: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


def _sql_bucket(planes: "_np.ndarray") -> str:
    """bucket id = Σ 2^i over non-negative plane projections."""
    return " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"{_sql_vec([float(x) for x in p])}) >= 0.0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )


_SQL_COSINE = (
    f"list_dot_product(v, {_sql_vec(_ANN_QUERY)})"
    f" / (sqrt(list_dot_product(v, v)) * {_ANN_QUERY_NORM!r})"
)

_LSH_PROBE_BUCKETS = S._query_buckets(_ANN_QUERY, _ANN_PLANES, n_probes=4)


def _lsh_oracle() -> str:
    return f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               ({_sql_bucket(_ANN_PLANES)}) AS bucket
        FROM embeddings
    ), c AS (
        SELECT vec_id, round({_SQL_COSINE}, 6) AS cosine_sim
        FROM b
        WHERE bucket IN ({", ".join(map(str, _LSH_PROBE_BUCKETS))})
    )
    SELECT vec_id, cosine_sim FROM c
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """


@query("ann_lsh_topk", _lsh_oracle())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: random-hyperplane LSH buckets + multi-probe + exact rerank.
    Fixed seeded planes and query vector make the whole pipeline
    (bucket assignment → probe set → rerank) value-checked against the
    DuckDB oracle; recall vs brute force asserted in tests."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return S.ann_topk(
        emb, _ANN_QUERY, k=10, planes=_ANN_PLANES, n_probes=4
    )


def _ivf_oracle() -> str:
    probe = _IVF_PROBE
    d_exprs = ", ".join(
        f"list_dot_product(v, v) - 2.0 * list_dot_product(v, "
        f"{_sql_vec(c)}) + {float(_np.dot(c, c))!r}"
        for c in _IVF_CENTROIDS
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{d_exprs}] AS dl FROM e
    ), a AS (
        SELECT vec_id, v,
               CAST(list_position(dl, list_min(dl)) - 1 AS INT)
                   AS ivf_list
        FROM d
    ), c AS (
        SELECT vec_id, round({_SQL_COSINE}, 6) AS cosine_sim
        FROM a WHERE ivf_list IN ({", ".join(map(str, probe))})
    )
    SELECT vec_id, cosine_sim FROM c
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """


@query("ann_ivf_topk", _ivf_oracle())
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: IVF — assignment to fixed literal centroids (the assign
    step of the k-means quantizer, with training decoupled: sampled
    KMeans fit is covered in tests), probe the 3 nearest inverted
    lists, exact cosine rerank inside them. At scale the assigned table
    is stored partitioned by ivf_list so each probe is a
    partition-pruned scan. Fixed centroids + query vector make the
    probe and rerank value-checked against the DuckDB oracle."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, _IVF_CENTROIDS)
    return S.ivf_topk(assigned, _IVF_CENTROIDS, _ANN_QUERY, k=10, n_probe=3)


def _neardup_oracle(threshold: float = 0.35) -> str:
    pair_cos = (
        "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               ({_sql_bucket(_NEARDUP_PLANES)}) AS bucket
        FROM embeddings
    ), p AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
               {pair_cos} AS raw_sim
        FROM b x JOIN b y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           round(raw_sim, 6) AS cosine_sim
    FROM p WHERE raw_sim >= {threshold}
    """


@query("embedding_neardup", _neardup_oracle())
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via LSH bucket equi-join +
    exact-cosine verification (never a cross join). Fixed seeded
    planes; threshold 0.35 sits inside the synthetic corpus's cosine
    range so the oracle checks real pairs, not an empty set."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_pairs(
        emb, threshold=0.35, planes=_NEARDUP_PLANES
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim")
    )


# ---- Product quantization ANN ---------------------------------------
# Fixed random codebooks (like the fixed IVF centroids: training via
# sampled per-subspace KMeans is covered in tests/test_similarity.py;
# the driver variant pins codebooks as literals so the DuckDB oracle
# replays encode → ADC score → candidate cut → exact rerank exactly).

_PQ_M, _PQ_KSUB, _PQ_DSUB = 4, 16, _EMB_DIM // 4
_PQ_CODEBOOKS = S.pq_codebooks_random(_EMB_DIM, _PQ_M, _PQ_KSUB, seed=23)


def _pq_code_exprs() -> list[str]:
    """One DuckDB expression per subspace: nearest-codeword index."""
    codes = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
        d_exprs = ", ".join(
            f"-2.0 * list_dot_product(v[{lo}:{hi}], {_sql_vec(list(c))})"
            f" + {float(_np.dot(c, c))!r}"
            for c in _PQ_CODEBOOKS[j]
        )
        codes.append(
            f"CAST(list_position([{d_exprs}], list_min([{d_exprs}])) - 1"
            f" AS INT)"
        )
    return codes


def _pq_lut_terms() -> list[str]:
    """Per-subspace ADC lookup-table terms for the fixed query."""
    q = _np.asarray(_ANN_QUERY)
    lut_terms = []
    for j in range(_PQ_M):
        lut = [
            float(_np.dot(q[j * _PQ_DSUB : (j + 1) * _PQ_DSUB], c))
            for c in _PQ_CODEBOOKS[j]
        ]
        lut_terms.append(f"({_sql_vec(lut)})[code[{j + 1}] + 1]")
    return lut_terms


def _pq_oracle(k: int = 10, refine: int = 4) -> str:
    codes = _pq_code_exprs()
    lut_terms = _pq_lut_terms()
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), enc AS (
        SELECT vec_id, v, [{", ".join(codes)}] AS code FROM e
    ), scored AS (
        SELECT vec_id, v,
               round({" + ".join(lut_terms)}, 6) AS pq_score
        FROM enc
    ), cand AS (
        SELECT vec_id, v FROM scored
        ORDER BY pq_score DESC, vec_id LIMIT {refine * k}
    ), r AS (
        SELECT vec_id, round({_SQL_COSINE}, 6) AS cosine_sim FROM cand
    )
    SELECT vec_id, cosine_sim FROM r
    ORDER BY cosine_sim DESC, vec_id LIMIT {k}
    """


@query("ann_pq_topk", _pq_oracle())
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: product quantization — encode each vector as m=4 nearest-
    codeword indices, score candidates via the per-query ADC lookup
    table (m literal-array lookups, never touching the embedding
    column), exact-cosine rerank the refine×k survivors. The 100 TB
    memory story: the hot scan reads an m-byte code column instead of
    the KB-scale vector column."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, _PQ_CODEBOOKS, _ANN_QUERY, k=10, refine=4)


def _ivfpq_oracle(k: int = 10, refine: int = 4) -> str:
    d_exprs = ", ".join(
        f"list_dot_product(v, v) - 2.0 * list_dot_product(v, "
        f"{_sql_vec(c)}) + {float(_np.dot(c, c))!r}"
        for c in _IVF_CENTROIDS
    )
    codes = _pq_code_exprs()
    lut_terms = _pq_lut_terms()
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{d_exprs}] AS dl FROM e
    ), a AS (
        SELECT vec_id, v,
               CAST(list_position(dl, list_min(dl)) - 1 AS INT)
                   AS ivf_list
        FROM d
    ), p AS (
        SELECT vec_id, v FROM a
        WHERE ivf_list IN ({", ".join(map(str, _IVF_PROBE))})
    ), enc AS (
        SELECT vec_id, v, [{", ".join(codes)}] AS code FROM p
    ), scored AS (
        SELECT vec_id, v,
               round({" + ".join(lut_terms)}, 6) AS pq_score
        FROM enc
    ), cand AS (
        SELECT vec_id, v FROM scored
        ORDER BY pq_score DESC, vec_id LIMIT {refine * k}
    ), r AS (
        SELECT vec_id, round({_SQL_COSINE}, 6) AS cosine_sim FROM cand
    )
    SELECT vec_id, cosine_sim FROM r
    ORDER BY cosine_sim DESC, vec_id LIMIT {k}
    """


@query("ann_ivfpq_topk", _ivfpq_oracle())
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: IVF-PQ — the composition production vector indexes (FAISS
    IVFPQ, Jégou et al. 2011) actually ship. IVF coarse assignment
    prunes the search to the probed inverted lists (at scale: the code
    table is stored partitioned by ivf_list, so the probe is a
    partition-pruned scan that never touches the other 5/8ths of the
    corpus); inside the lists, the m-byte PQ code column is ADC-scored
    (per-query lookup table, embedding column untouched); the
    refine×k ADC survivors get an exact-cosine rerank. Fixed literal
    centroids + codebooks + query make every step value-checked
    against the DuckDB oracle."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, _IVF_CENTROIDS)
    probed = assigned.filter(F.col("ivf_list").isin(_IVF_PROBE)).drop(
        "ivf_list"
    )
    return S.pq_topk(probed, _PQ_CODEBOOKS, _ANN_QUERY, k=10, refine=4)


# =====================================================================
# Multimodal columns
# =====================================================================


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           'text' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct; size/hash computed
    JVM-side on the binary column."""
    docs = M.text_as_fake_payload(_t_cpu(spark, sf_dir, "documents"))
    media = M.attach_media_columns(docs, "payload", modality="text")
    return media.select(
        "doc_id",
        F.col("media_meta.modality").alias("modality"),
        F.col("media_meta.byte_size").alias("byte_size"),
        F.col("media_meta.content_sha256").alias("content_sha256"),
    )


@query(
    "multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
           16 AS feature_dim
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (deterministic fake features — codec stubbed; the oracle
    checks the plumbing: ids, sizes, vector width)."""
    docs = M.text_as_fake_payload(_t_cpu(spark, sf_dir, "documents"))
    feats = M.extract_image_features(docs, dim=16, fake_features=True)
    return feats.select(
        "doc_id",
        "byte_size",
        F.size("feature").alias("feature_dim"),
    )


@query(
    "multimodal_resize",
    """
    SELECT doc_id, 8 AS out_width, 4 AS out_height,
           CAST(32 AS BIGINT) AS out_byte_size
    FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image resize plumbing over binary payloads
    (codec stubbed by a deterministic fake — the oracle checks the
    pipeline contract: every doc id, output dims, target-sized
    payloads; payload determinism asserted in test_multimodal)."""
    docs = M.text_as_fake_payload(_t_cpu(spark, sf_dir, "documents"))
    out = M.resize_images(docs, width=8, height=4)
    return out.select(
        "doc_id", "out_width", "out_height", "out_byte_size"
    )


# =====================================================================
# Streaming-windowed events (batch face; streaming equivalence in tests)
# =====================================================================


@query(
    "events_tumbling",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming
    operator — identical results for on-time data)."""
    return tumbling_agg_batch(_t(spark, sf_dir, "events"), "1 hour")


@query(
    "events_sessionize",
    """
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessed AS (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessed GROUP BY 1, 2
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + conditional cumsum,
    one shuffle on user_id."""
    stats = session_stats_batch(
        _t(spark, sf_dir, "events"), gap_minutes=30
    )
    return stats.select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "n_events",
        "session_start",
        "session_end",
    )


@query(
    "events_sliding",
    """
    WITH e AS (
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   AS tb,
               event_type, value
        FROM events
    ), covering AS (
        SELECT tb AS window_start, event_type, value FROM e
        UNION ALL
        SELECT tb - INTERVAL '30 minutes' AS window_start, event_type,
               value
        FROM e
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM covering GROUP BY 1, 2
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window aggregation — each event lands in the two
    slide-aligned windows covering it (the oracle expands them with a
    UNION ALL of shifted tumbling buckets)."""
    return sliding_agg_batch(
        _t(spark, sf_dir, "events"), "1 hour", "30 minutes"
    )


@query(
    "events_enriched_stream",
    """
    SELECT c_mktsegment AS segment, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def q_events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events STREAM joins the
    static customer dimension (the classic streaming-ETL enrich step —
    Spark re-plans the static side per micro-batch, and a broadcast of
    the dim means the stream never shuffles for the join), then a
    per-(segment, event_type) aggregate, run to completion with
    availableNow into a memory sink. Oracle: the equivalent batch
    join+aggregate — identical results for a bounded source, so the
    STREAMING operator itself is value-checked, not rows-only."""

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    dim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = _scratch("enrich-src", sf_dir)
    ev.write.mode("overwrite").parquet(src)

    def _enrich(stream):
        return (
            stream.join(
                F.broadcast(dim),
                stream["user_id"] == dim["c_custkey"],
            )
            .groupBy(
                F.col("c_mktsegment").alias("segment"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("value_sum"),
            )
        )

    return run_stream_once(
        spark,
        src,
        "user_id bigint, event_type string, value double",
        _enrich,
        query_name="deftunes_enriched_stream",
    )


_STREAM_JOIN_ORACLE = """
SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP)
     <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
GROUP BY 1
"""


@query("events_stream_stream_join", _STREAM_JOIN_ORACLE)
def q_events_stream_stream_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval self-join: views joined to clicks by the
    same user within the following 30 minutes — both sides STREAMS
    (attribution joins, the canonical stream-stream shape). Watermarks
    on both event-time columns plus the time-range join condition are
    what let Spark evict join state: a view older than the click-side
    watermark minus 30 min can never match again. Run to completion
    with availableNow; the emitted pairs are then batch-counted per
    user for a compact checked result. Oracle: the equivalent batch
    range self-join — identical pairs for a bounded on-time source."""

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    src = _scratch("ssj-src", sf_dir)
    ev.write.mode("overwrite").parquet(src)

    def _join(stream):
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "1 hour")
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return views.join(
            clicks,
            F.expr(
                "v_user = c_user AND c_ts >= v_ts "
                "AND c_ts <= v_ts + interval 30 minutes"
            ),
        )

    pairs = run_stream_once(
        spark,
        src,
        "user_id bigint, event_type string, ts timestamp",
        _join,
        output_mode="append",
        query_name="deftunes_stream_stream_join",
    )
    return pairs.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


_STREAM_DEDUP_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1
"""


@query("events_dedup_stream", _STREAM_DEDUP_ORACLE)
def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with BOUNDED state: the source is the
    events table with every 10th event duplicated (at-least-once
    delivery simulated); ``dropDuplicatesWithinWatermark`` on event_id
    keeps one copy while evicting dedup state older than the watermark
    — the always-on form of exact dedup (state ∝ watermark window, not
    stream history; plain streaming dropDuplicates would grow state
    forever). Emitted rows are batch-counted per event_type; the
    oracle is the original un-duplicated table aggregated the same
    way — dedup must collapse the injected copies exactly."""

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    dup = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    src = _scratch("sdedup-src", sf_dir)
    dup.write.mode("overwrite").parquet(src)

    def _dedup(stream):
        return stream.withWatermark(
            "ts", "1 hour"
        ).dropDuplicatesWithinWatermark(["event_id"])

    deduped = run_stream_once(
        spark,
        src,
        "event_id bigint, event_type string, ts timestamp, value double",
        _dedup,
        output_mode="append",
        query_name="deftunes_stream_dedup",
    )
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("value_sum"),
    )


_VSINK_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1
"""


@query("events_stream_versioned_sink", _VSINK_ORACLE)
def q_events_stream_versioned_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming sink into a versioned table: the events
    backlog streams in MULTIPLE microbatches (maxFilesPerTrigger), each
    committing one table version whose manifest carries the batch id
    (streaming/sinks.py — the Iceberg/Delta streaming-commit pattern on
    the plain-parquet versioned table). The aggregated final snapshot
    must equal the source aggregated directly — any dropped or
    double-committed batch shifts counts/sums and fails the value
    hash. Replay idempotence itself is pytest-asserted
    (tests/test_streaming.py)."""

    from deftunes_spark.streaming.sinks import stream_to_versioned_table

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    src = _scratch("vsink-src", sf_dir)
    ev.repartition(4).write.mode("overwrite").parquet(src)
    table = _scratch("vsink-tbl", sf_dir) + "/t"

    snapshot = stream_to_versioned_table(
        spark,
        src,
        "event_type string, value double",
        table,
        max_files_per_trigger=2,
    )
    return snapshot.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("value_sum"),
    )


@query(
    "events_stateful_sessions",
    ORACLES["events_sessionize"],
)
def q_events_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap sessionization via
    applyInPandasWithState, run to completion with availableNow.

    One far-future sentinel event per user flushes the open tail
    session out of state; sentinel sessions (start >= 2200) stay in
    state, so the emitted rows equal the batch/SQL sessionization
    exactly — the streaming operator is oracle-checked, not rows-only."""

    from deftunes_spark.streaming.stateful import session_stats_stateful

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    sentinels = (
        ev.select("user_id")
        .distinct()
        .withColumn("ts", F.lit("2200-01-01 00:00:00").cast("timestamp"))
    )
    src = _scratch("stateful-src", sf_dir)
    ev.unionByName(sentinels).write.mode("overwrite").parquet(src)
    result = run_stream_once(
        spark,
        src,
        "user_id bigint, ts timestamp",
        lambda s: session_stats_stateful(s, gap_minutes=30),
        output_mode="append",
        query_name="deftunes_stateful_sessions",
    )
    return result.filter(
        F.col("session_start") < F.lit("2200-01-01").cast("timestamp")
    )


__all__ = ["ORACLES"]


def _ngram_jaccard_oracle_n(
    n: int, threshold: float, max_doc_freq: int | None = None
) -> str:
    """Exact word-n-gram Jaccard pairs in DuckDB (n ≥ 2), mirroring
    ``ngram_jaccard_pairs``: same sliding-window shingling as
    ``_minhash_oracle``, shared-shingle candidate join, exact ratio;
    optional document-frequency cap mirroring ``max_doc_freq``."""
    if max_doc_freq is not None:
        cap_cte = f""", dfreq AS (
        SELECT shingle, COUNT(*) AS c FROM toks0 GROUP BY 1
    ), toks AS (
        SELECT doc_id, shingle FROM toks0 JOIN dfreq USING (shingle)
        WHERE c <= {max_doc_freq}
    )"""
    else:
        cap_cte = ", toks AS (SELECT doc_id, shingle FROM toks0)"
    return f"""
    WITH toklist AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents
    ), toks0 AS (
        SELECT DISTINCT doc_id,
               array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
        FROM toklist,
             UNNEST(range(1, greatest(len(toks) - {n - 1}, 1) + 1)) AS t(i)
    ){cap_cte}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM toks a JOIN toks b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE)
               / CAST(sa.set_size + sb.set_size - common AS DOUBLE)
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(common AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - common AS DOUBLE)
          >= {threshold}
    """


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_ngram_jaccard_oracle_n(3, 0.5)}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION ALL
    SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.d AS node, r.comp
    FROM reach r JOIN edges e ON e.s = r.node
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(comp) AS BIGINT) AS comp
FROM reach GROUP BY node
"""


@query("dedup_jaccard_dfcap", _ngram_jaccard_oracle_n(2, 0.4, max_doc_freq=20))
def q_dedup_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency-capped bigram Jaccard — the skew guard for
    stopword shingles made real: shingles in more than 20 documents
    (each worth O(df²) candidate pairs) are dropped from the sets
    before sizing and joining, turning the candidate space from
    Σ df² into Σ min(df, cap)². Exact Jaccard of the filtered sets,
    value-checked against the identically-capped DuckDB oracle."""
    docs = _t_cpu(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.4, max_doc_freq=20
    )


# Deliberately NOT a mirror of the prefix-filter algorithm: a
# brute-force all-pairs list_intersect, so the value-hash check also
# proves the pruning is lossless (prefix filtering is exact — any
# dropped candidate would show up as a row-count mismatch here).
_PREFIX_FILTER_ORACLE = """
WITH toklist AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
    FROM documents
), sets AS (
    SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(toks) - 3, 1) + 1),
        i -> array_to_string(toks[i:i+3], ' '))) AS ss
    FROM toklist
), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.ss, b.ss)) AS o,
           len(a.ss) AS sa, len(b.ss) AS sb
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(CAST(o AS DOUBLE) / CAST(sa + sb - o AS DOUBLE), 6)
           AS jaccard
FROM pairs
WHERE CAST(o AS DOUBLE) / CAST(sa + sb - o AS DOUBLE) >= 0.7
"""


@query("dedup_prefix_filter", _PREFIX_FILTER_ORACLE)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram-Jaccard pairs via AllPairs/PPJoin prefix filtering
    (ext.dedup.prefix_filter_pairs): candidates come only from shared
    RAREST-prefix shingles (rarity = global document frequency), then
    verify exactly on the full sets — the lossless alternative to the
    df-cap approximation when the answer must not change. n=4/t=0.7
    because prefix pruning needs a rich shingle space: at sf0.1 it
    leaves candidates == true pairs (256 = 256), where bigrams on the
    40-word synthetic vocabulary make every shingle a stopword. The
    oracle is an independent O(n²) brute force, so the hash check
    proves the pruning drops nothing."""
    docs = _t_cpu(spark, sf_dir, "documents")
    return D.prefix_filter_pairs(
        docs, "doc_id", "text", n=4, threshold=0.7, cache=True
    )


_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                       x -> x <> '') AS toks
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(toks) > 0
            THEN len(list_distinct(toks)) / len(toks)
            ELSE 0.0 END AS distinct_token_ratio,
       CASE WHEN len(toks) > 0
            THEN list_max(list_transform(list_distinct(toks),
                     t2 -> len(list_filter(toks, x -> x = t2))))
                 / len(toks)
            ELSE 0.0 END AS top_token_fraction,
       CASE WHEN len(toks) > 0
            THEN length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                 / len(toks)
            ELSE 0.0 END AS symbol_token_ratio
FROM t
"""


@query("text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (distinct-token ratio, top-token
    fraction, symbol-to-token ratio) — pure array expressions, one
    codegen scan, no shuffle."""
    docs = X.with_repetition_stats(_t_cpu(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "distinct_token_ratio",
        "top_token_fraction",
        "symbol_token_ratio",
    )


def _pii_oracle() -> str:
    email_pat, email_repl = X.PII_PATTERNS[0]
    phone_pat, phone_repl = X.PII_PATTERNS[1]
    return f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com'
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' or call 555-123-4567.' ELSE '.' END
                   AS text
        FROM documents
    ), scrubbed AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text, '{email_pat}', '{email_repl}', 'g'),
                   '{phone_pat}', '{phone_repl}', 'g') AS text_scrubbed
        FROM aug
    )
    SELECT doc_id, text_scrubbed,
           CAST(len(string_split(text_scrubbed, '{email_repl}')) - 1
                + len(string_split(text_scrubbed, '{phone_repl}')) - 1
                AS BIGINT) AS n_redacted
    FROM scrubbed
    """


@query("text_pii_scrub", _pii_oracle())
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus with deterministic synthetic PII
    appended (every doc gets an email, even doc_ids also a phone) so
    both regex families provably fire; the oracle hashes the full
    scrubbed strings plus redaction counts."""
    docs = _t_cpu(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" or call 555-123-4567."),
            ).otherwise(F.lit(".")),
        ),
    )
    out = X.with_pii_scrubbed(docs)
    return out.select("doc_id", "text_scrubbed", "n_redacted")


@query("dedup_components", _COMPONENTS_ORACLE)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters: iterative min-label propagation
    (driver-coordinated loop, one node-keyed shuffle per round,
    lineage cut per iteration). Oracle: DuckDB recursive-CTE transitive
    closure over the SAME pair query — the iterative Spark algorithm is
    value-checked, not rows-only.

    Pairs come from word TRIGRAM Jaccard: the synthetic corpus has a
    ~31-token vocabulary, so unigram shingles are shared by nearly
    every document pair and the shared-shingle candidate join
    degenerates toward all-pairs (224 M candidates at sf0.1 — exactly
    the ultra-frequent-shingle skew `ngram_jaccard_pairs` documents);
    trigrams keep candidate generation proportional to true-duplicate
    density (~1.3 M candidates, 256 true pairs at sf0.1)."""
    docs = _t_cpu(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comp = D.connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("comp").cast("bigint").alias("comp"),
    )


_CANONICAL_ORACLE = f"""
WITH RECURSIVE pairs AS ({_ngram_jaccard_oracle_n(3, 0.5)}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION ALL
    SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.d AS node, r.comp
    FROM reach r JOIN edges e ON e.s = r.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
scored AS (SELECT doc_id, {QSCORE_SQL} AS q FROM documents),
labeled AS (
    SELECT s.doc_id, COALESCE(c.comp, s.doc_id) AS cluster, s.q
    FROM scored s LEFT JOIN comp c ON s.doc_id = c.node
),
ranked AS (
    SELECT cluster, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY q DESC, doc_id
           ) AS rn
    FROM labeled
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
           AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ranked GROUP BY cluster
"""


@query("dedup_canonical", _CANONICAL_ORACLE)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup decision a training pipeline actually
    ships: near-dup pairs (trigram Jaccard) → connected components →
    ONE survivor per cluster, picked by quality score (ties to the
    lowest doc_id via the (score, −id) struct order — deterministic in
    both engines). Singleton docs are their own cluster (left join +
    coalesce), so the output is a full keep/drop decision for the
    corpus: n_docs − 1 drops per cluster. One extra shuffle
    (groupBy cluster) on top of the components loop."""
    docs = _t_cpu(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    scored = X.with_quality_score(docs).select("doc_id", "quality_score")
    labeled = scored.join(
        comp, scored["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("cluster"),
        "quality_score",
    )
    return labeled.groupBy("cluster").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nid")),
        )
        .cast("bigint")
        .alias("canonical_id"),
        F.count(F.lit(1)).alias("n_docs"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "canonical_id",
        "n_docs",
    )


_LEAK_TEST_FRAC = 0.2
_LEAK_HEX = format(int(_LEAK_TEST_FRAC * 16**6), "06x")

_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE pairs AS ({{pairs}}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION ALL
    SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.d AS node, r.comp
    FROM reach r JOIN edges e ON e.s = r.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
labeled AS (
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster AS BIGINT) AS cluster,
       CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 6)
                 < '{_LEAK_HEX}'
            THEN 'test' ELSE 'train' END AS split
FROM labeled
"""


@query(
    "leakage_safe_split",
    _LEAKAGE_SPLIT_ORACLE.format(pairs=_ngram_jaccard_oracle_n(3, 0.5)),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-proof train/test split: near-dup pairs (trigram
    Jaccard, same edge set as ``dedup_components``) → connected
    components → the split decision hashes the CLUSTER id, so no
    near-duplicate pair ever straddles train/test. Value-checked end
    to end: the oracle replays the recursive transitive closure AND
    the md5 bucket arithmetic verbatim."""
    from deftunes_spark.ext.sampling import leakage_safe_split

    docs = _t_cpu(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )
    return leakage_safe_split(
        docs, pairs, "doc_id", test_fraction=_LEAK_TEST_FRAC
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        "split",
    )


_NFC_ORACLE = """
WITH decomposed AS (
    SELECT doc_id, text || ' cafe' || chr(769) || ' nino' || chr(771)
               AS text_raw
    FROM documents
), norm AS (
    SELECT doc_id, text_raw, nfc_normalize(text_raw) AS text_nfc
    FROM decomposed
)
SELECT doc_id,
       CAST(length(text_raw) AS BIGINT) AS chars_raw,
       CAST(length(text_nfc) AS BIGINT) AS chars_nfc,
       md5(text_nfc) AS nfc_md5
FROM norm
"""


@query("text_nfc_normalize", _NFC_ORACLE)
def q_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization, value-checked cross-engine: combining
    marks are injected deterministically (cafe+U+0301, nino+U+0303) so
    the normalizer has real work — composed output is 2 chars shorter
    and its md5 must agree byte-for-byte with DuckDB's nfc_normalize.
    The UDF is the Arrow-batched slow-path exception; the md5/length
    checks run JVM-side on its output."""
    docs = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            # DECOMPOSED on purpose: cafe+U+0301, nino+U+0303 — NFC
            # composes both. Explicit escapes so no editor can
            # silently normalize the source bytes.
            F.lit(" cafe\u0301 nino\u0303"),
        ).alias("text_raw"),
    )
    norm = X.with_nfc_normalized(docs, "text_raw", "text_nfc")
    return norm.select(
        "doc_id",
        F.length("text_raw").cast("bigint").alias("chars_raw"),
        F.length("text_nfc").cast("bigint").alias("chars_nfc"),
        F.md5("text_nfc").alias("nfc_md5"),
    )


_STREAM_LEFT_JOIN_ORACLE = """
WITH v AS (
    SELECT user_id, ts FROM events WHERE event_type = 'view'
), c AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
), j AS (
    SELECT v.user_id, v.ts AS v_ts, c.ts AS c_ts
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP)
         <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
)
SELECT user_id,
       CAST(COUNT(c_ts) AS BIGINT) AS n_pairs,
       CAST(COUNT(*) - COUNT(c_ts) AS BIGINT) AS n_unmatched
FROM j GROUP BY 1
"""


@query("events_stream_left_join", _STREAM_LEFT_JOIN_ORACLE)
def q_events_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the outer-join
    streaming semantics the inner-join query can't exercise: a view
    with no click inside its 30-minute window must STILL emit (null-
    padded), which Spark can only do once the watermark proves no
    matching click can ever arrive. State for the left side is held
    until (click watermark − 30 min) passes the view's timestamp,
    then evicted with a null emission.

    Determinism at end-of-stream: an availableNow run terminates when
    the source drains, which would strand the final window's
    unmatched views in state (their null emission needs a LATER
    watermark). A far-future sentinel row appended to the source (and
    filtered out of the result) advances both watermarks past every
    real event, so the no-data finalization batch flushes every
    pending null — making the streamed result equal the batch LEFT
    JOIN the oracle runs."""

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinel = spark.createDataFrame(
        [(-1, "view", max_ts), (-1, "click", max_ts)],
        "user_id bigint, event_type string, ts timestamp",
    ).withColumn("ts", F.col("ts") + F.expr("interval 12 hours"))
    src = _scratch("sslj-src", sf_dir)
    ev.unionByName(sentinel).write.mode("overwrite").parquet(src)

    def _join(stream):
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "1 hour")
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return views.join(
            clicks,
            F.expr(
                "v_user = c_user AND c_ts >= v_ts "
                "AND c_ts <= v_ts + interval 30 minutes"
            ),
            "left_outer",
        )

    pairs = run_stream_once(
        spark,
        src,
        "user_id bigint, event_type string, ts timestamp",
        _join,
        output_mode="append",
        query_name="deftunes_stream_left_join",
    )
    return (
        pairs.filter(F.col("v_user") >= 0)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.col("c_ts")).cast("bigint").alias("n_pairs"),
            (F.count(F.lit(1)) - F.count(F.col("c_ts")))
            .cast("bigint")
            .alias("n_unmatched"),
        )
    )


_ENTROPY_ORACLE = """
WITH ch AS (
    SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
    FROM documents
), c AS (
    SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS n_ch
    FROM ch GROUP BY 1, 2
), a AS (
    SELECT doc_id, CAST(SUM(n_ch) AS BIGINT) AS n_chars_e,
           -SUM(n_ch * ln(n_ch)) AS s
    FROM c GROUP BY 1
)
SELECT doc_id, n_chars_e,
       round(CASE WHEN n_chars_e > 0
                  THEN ln(n_chars_e) + s / n_chars_e
                  ELSE 0.0 END, 6) AS char_entropy
FROM a
"""


@query("text_char_entropy", _ENTROPY_ORACLE)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy
    (ext.text.char_entropy): the cheap randomness/boilerplate quality
    signal. Linear in corpus size; the shuffle carries only
    alphabet-bounded (doc, char, count) triples."""
    return X.char_entropy(_t_cpu(spark, sf_dir, "documents"))


_WINDOWED_ROLLUP_ORACLE = """
WITH w15 AS (
    SELECT event_type,
           time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               AS w15_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       time_bucket(INTERVAL '1 hour', w15_start) AS hour_start,
       CAST(MAX(n) AS BIGINT) AS max_15m,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM w15 GROUP BY 1, 2
"""


@query("events_windowed_rollup", _WINDOWED_ROLLUP_ORACLE)
def q_events_windowed_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful streaming operators (Spark 3.4+): a 15-minute
    tumbling count per event type feeding an hourly rollup (max +
    window count of the 15-min buckets) inside ONE streaming query —
    two watermark-tracked state stores, the second keyed on
    ``window_time`` of the first's window. This is the pre-aggregation
    cascade a 100 TB metrics pipeline runs: the second store sees
    4 rows/hour/type instead of raw events. End-of-stream finalization
    uses the same far-future-sentinel trick as the left-outer join
    (both levels emit only when the watermark passes their window
    end), making the availableNow run equal the batch twin oracle."""

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinel = spark.createDataFrame(
        [("___sentinel", max_ts)], "event_type string, ts timestamp"
    ).withColumn("ts", F.col("ts") + F.expr("interval 12 hours"))
    src = _scratch("chain-src", sf_dir)
    ev.unionByName(sentinel).write.mode("overwrite").parquet(src)

    def _chain(stream):
        w15 = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "15 minutes").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        return (
            w15.groupBy(
                F.window(F.window_time("w"), "1 hour").alias("h"),
                "event_type",
            )
            .agg(
                F.max("n").cast("bigint").alias("max_15m"),
                F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            )
        )

    out = run_stream_once(
        spark,
        src,
        "event_type string, ts timestamp",
        _chain,
        output_mode="append",
        query_name="deftunes_windowed_rollup",
    )
    return out.filter(F.col("event_type") != "___sentinel").select(
        "event_type",
        F.col("h.start").alias("hour_start"),
        "max_15m",
        "n_windows",
    )


@query(
    "multimodal_frame_features",
    """
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS bs FROM documents
    ), f AS (
        SELECT doc_id, bs,
               unnest(range(0, bs * 10 + 1, 1000)) AS frame_ts_ms
        FROM d
    )
    SELECT doc_id, CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
           CAST(bs AS BIGINT) AS byte_size,
           round(((bs * 31 + frame_ts_ms) % 1000) / 1000.0, 6)
               AS frame_energy
    FROM f
    """,
)
def q_multimodal_frame_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio/video path end-to-end: opaque payload + typed metadata →
    duration filled by the (stubbed) decode stage → JVM-side frame
    fan-out (sequence+explode, one row per frame timestamp) →
    Arrow-batched per-frame feature mapInPandas. The oracle replays
    the whole plumbing (frame counts, timestamps, sizes, the
    deterministic stand-in energy); the real codec drops into
    ext.multimodal.extract_frame_features' decode slot."""
    docs = M.text_as_fake_payload(_t_cpu(spark, sf_dir, "documents"))
    media = M.attach_media_columns(docs, "payload", modality="audio")
    # "Decode" fills duration: stub = 10 ms per payload byte.
    decoded = media.withColumn(
        "media_meta",
        F.col("media_meta").withField(
            "duration_ms", F.col("media_meta.byte_size") * 10
        ),
    )
    frames = M.frame_sample_plan(
        decoded, every_ms=1000, carry_cols=("payload",)
    )
    return M.extract_frame_features(frames)


# =====================================================================
# ANN recall harness: approximate-vs-exact quality, value-checked
# =====================================================================


def _ann_recall_oracle() -> str:
    from deftunes_spark.driver_queries import ORACLES

    methods = {
        "lsh": ORACLES["ann_lsh_topk"],
        "ivf": ORACLES["ann_ivf_topk"],
        "pq": ORACLES["ann_pq_topk"],
        "ivfpq": ORACLES["ann_ivfpq_topk"],
    }
    cand = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, vec_id FROM ({sql})"
        for m, sql in methods.items()
    )
    return f"""
    WITH exact AS (
        SELECT vec_id FROM (
            SELECT vec_id, round({_SQL_COSINE}, 6) AS cosine_sim
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings)
            ORDER BY cosine_sim DESC, vec_id LIMIT 10
        )
    ), cand AS (
        {cand}
    )
    SELECT method,
           CAST(count(e.vec_id) AS BIGINT) AS n_hits,
           round(count(e.vec_id) / 10.0, 6) AS recall_at_10
    FROM cand LEFT JOIN exact e ON cand.vec_id = e.vec_id
    GROUP BY method
    """


@query("ann_recall", _ann_recall_oracle())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every ANN variant against the exact brute-force
    top-10 for the fixed query vector — the quality harness an
    approximate index ships with (a fast index with unmeasured recall
    is not 'done'). Each variant's candidate set is the SAME pipeline
    its own oracle-checked query runs; the exact set is the
    brute-force scan. The oracle composes those per-variant SQL
    mirrors verbatim, so a recall discrepancy isolates to the engine,
    never the fixture. At 100 TB this runs on a hash-sampled query
    panel; the per-query cost is one exact scan plus the index probes.
    """
    emb = _t_cpu(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, _ANN_QUERY, k=10).select(
        "vec_id", F.lit(1).alias("_hit")
    )
    methods = {
        "lsh": q_ann_lsh_topk,
        "ivf": q_ann_ivf_topk,
        "pq": q_ann_pq_topk,
        "ivfpq": q_ann_ivfpq_topk,
    }
    frames = [
        fn(spark, sf_dir).select(
            F.lit(m).alias("method"), F.col("vec_id")
        )
        for m, fn in methods.items()
    ]
    cand = frames[0]
    for f in frames[1:]:
        cand = cand.unionByName(f)
    return (
        cand.join(F.broadcast(exact), "vec_id", "left")
        .groupBy("method")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits")
        )
        .withColumn(
            "recall_at_10", F.round(F.col("n_hits") / 10.0, 6)
        )
    )


def _scd2_enrich_oracle() -> str:
    from deftunes_spark.ext.scd import scd2_tie_dedup_cte

    return f"""
    WITH dedup AS (
        {scd2_tie_dedup_cte()}
    ), ordered AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts
        FROM dedup WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), versions AS (
        SELECT user_id, ts, event_type FROM ordered
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_type
    ), scd AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS valid_to
        FROM versions
    ), p AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT state, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM p JOIN scd
      ON p.user_id = scd.user_id
     AND p.ts > scd.valid_from
     AND (scd.valid_to IS NULL OR p.ts <= scd.valid_to)
    GROUP BY 1
    """


@query("events_stream_scd2_enrich", _scd2_enrich_oracle())
def q_events_stream_scd2_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time dimension enrichment IN A STREAM: purchases flow
    as a file stream and each one joins the SCD2 user-state dimension
    row valid JUST BEFORE its event time (valid_from < ts ≤ valid_to:
    the state the user was IN when they purchased — the purchase event
    itself starts a new version at exactly ts, so the half-open
    look-back excludes it) — the late-arriving-dimension correctness
    pattern a lakehouse needs so replayed/backfilled streams enrich
    against history, not today's dim. Stream-static join with the dim
    broadcast (at most ONE interval matches per purchase; a user's
    first-ever event has no prior state and drops out of the inner
    join); per-state aggregate run
    to completion via availableNow. At 100 TB the dim is bucketed by
    user key instead of broadcast — the interval predicate is
    unchanged. Oracle: the identical batch point-in-time join."""

    from deftunes_spark.ext.scd import scd2_from_log

    from deftunes_spark.ext.scd import dedup_log_ties

    ev = _t(spark, sf_dir, "events")
    # scd2_from_log requires unique (key, ts): shared deterministic
    # dedup, mirrored by the oracle's shared scd2_tie_dedup_cte.
    log = dedup_log_ties(
        ev.select("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", "event_id",
    )
    dim = scd2_from_log(
        log,
        key="user_id",
        ts="ts",
        attrs=["event_type"],
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    src = _scratch("scd2stream-src", sf_dir)
    purchases.write.mode("overwrite").parquet(src)

    def _enrich(stream):
        return (
            stream.join(
                F.broadcast(dim),
                (stream["user_id"] == F.col("d_user"))
                & (stream["ts"] > F.col("valid_from"))
                & (
                    F.col("valid_to").isNull()
                    | (stream["ts"] <= F.col("valid_to"))
                ),
            )
            .groupBy("state")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("value_sum"),
            )
        )

    return run_stream_once(
        spark,
        src,
        "user_id bigint, ts timestamp, value double",
        _enrich,
        query_name="deftunes_scd2_enrich_stream",
    )


# =====================================================================
# HTML stripping + readability (ext.text)
# =====================================================================

_HTML_WRAP_SQL = """
    '<html><head><style>p {color: red}</style>'
    || '<script>if (1<2) { track("' || CAST(doc_id AS VARCHAR)
    || '"); }</script></head>'
    || '<body class="doc"><!-- header --><p id="d'
    || CAST(doc_id AS VARCHAR) || '">' || text
    || '</p>&nbsp;&amp; &lt;tail&gt; &quot;end&quot; &#39;.</body></html>'
"""

def _html_strip_sql(col: str) -> str:
    """DuckDB mirror of ``with_html_stripped`` generated from the SAME
    ``HTML_STRIP_STEPS`` tuple — one definition, two engines; a rule
    reorder (e.g. the &amp;-last fix) can never desynchronize them."""
    from deftunes_spark.ext.text import HTML_STRIP_STEPS

    expr = col
    for pat, repl in HTML_STRIP_STEPS:
        expr = (
            f"regexp_replace({expr}, '{pat}', "
            f"'{repl.replace(chr(39), chr(39) * 2)}', 'g')"
        )
    return f"trim(regexp_replace({expr}, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"


_HTML_ORACLE = f"""
WITH wrapped AS (
    SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(html, '(?s)<[^>]+>')) AS BIGINT)
           AS n_tags,
       {_html_strip_sql("html")} AS text_clean
FROM wrapped
"""


@query("text_html_strip", _HTML_ORACLE)
def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl markup cleaning (the C4 shape): each document is
    wrapped in deterministic synthetic HTML (script + style + comment
    blocks, attributes, the five common entities) so every strip rule
    provably fires, then ``with_html_stripped`` removes blocks, tags,
    and entities and collapses whitespace — one chained-regexp codegen
    projection; the oracle mirrors every replacement in order, so the
    full cleaned strings value-hash match."""
    from deftunes_spark.ext.text import with_html_stripped

    docs = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<html><head><style>p {color: red}</style>'),
            F.lit('<script>if (1<2) { track("'),
            F.col("doc_id").cast("string"),
            F.lit('"); }</script></head>'),
            F.lit('<body class="doc"><!-- header --><p id="d'),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            F.col("text"),
            F.lit(
                "</p>&nbsp;&amp; &lt;tail&gt; &quot;end&quot; "
                "&#39;.</body></html>"
            ),
        ).alias("text"),
    )
    out = with_html_stripped(docs)
    return out.select("doc_id", "n_tags", "text_clean")


_READABILITY_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               trim(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences
    FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_sum(list_transform(toks,
                x -> greatest(len(regexp_extract_all(lower(x),
                                                     '[aeiouy]+')), 1))),
                     0)
            AS BIGINT) AS n_syllables,
       CASE WHEN len(toks) > 0 THEN
           round(206.835
                 - 1.015 * (CAST(len(toks) AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(list_sum(list_transform(toks,
                       x -> greatest(len(regexp_extract_all(lower(x),
                                                            '[aeiouy]+')),
                                     1))) AS DOUBLE)
                           / CAST(len(toks) AS DOUBLE)), 6)
       END AS flesch_score
FROM t
"""


@query("text_readability", _READABILITY_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease from regex proxies (words, [.!?]+ sentence
    runs, vowel-group syllables) — a scan-speed quality signal like
    the Gopher rules; one codegen projection, arithmetic mirrored
    term-for-term in the oracle."""
    from deftunes_spark.ext.text import with_readability

    docs = _t_cpu(spark, sf_dir, "documents")
    return with_readability(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch_score"
    )
