"""Round-2 fixes, judge-directed (VERDICT.md / ADVICE.md round 1):

- schema evolution on catalog tables (the Iceberg format-v2 motivation,
  transform-json-job.py:156-187) + mergeSchema path reads;
- declarative column contracts in the model registry
  (serving_layer/schema.yml:5-51);
- the reference's DECLARED-BUT-FAILING dbt test: fact_session.session_id
  ``unique`` is violated by construction post-explode (schema.yml:8-12;
  SURVEY §2.5) — asserted here as an expected failure;
- deterministic content-hash salts (retry-safe, SPARK-23207 class);
- dynamic-partition-overwrite pinned inside the writer (ambient
  'static' mode must not truncate the table);
- staged upsert swap (original intact until the merge is durable);
- simhash max_hamming boundary semantics.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deftunes_spark.ext.dedup import simhash64, simhash_near_pairs
from deftunes_spark.ext.scale import salted_join, salted_sum
from deftunes_spark.io.readers import read_parquet_merged
from deftunes_spark.io.writers import (
    upsert_table,
    write_table_append_evolve,
    write_table_append_or_create,
)
from deftunes_spark.models import Model, ModelRegistry
from deftunes_spark.models.registry import ContractViolation
from deftunes_spark.models.star import fact_session
from deftunes_spark.quality.evaluator import evaluate_ruleset
from deftunes_spark.quality.rules import Unique
from deftunes_spark.transforms import sessions_explode


# ---------------------------------------------------------------------
# Expected failure: the reference's declared dbt test that cannot pass
# ---------------------------------------------------------------------


def test_fact_session_session_id_unique_fails_as_declared(sessions_landing):
    """dbt schema.yml:8-12 declares ``unique`` on
    fact_session.session_id, but fact_session explodes one row per
    purchased item (fact_session.sql) — any multi-item session
    violates it. The reference ships this failing test; we document
    the failure instead of silently 'fixing' the semantics."""
    fact = fact_session(sessions_explode(sessions_landing))
    n, nd = fact.agg(
        F.count("session_id"), F.count_distinct("session_id")
    ).collect()[0]
    assert n > nd, "fixture must contain multi-item sessions"
    [result] = evaluate_ruleset(fact, [Unique("session_id")])
    assert not result.passed  # the declared test FAILS, by construction
    assert result.metric == float(n - nd)
    # The companion (user_id, song_id, session_id) grain IS unique —
    # the check the reference should have declared.
    grain = fact.select("session_id", "song_id").distinct().count()
    assert grain == n


# ---------------------------------------------------------------------
# Column contracts
# ---------------------------------------------------------------------


def test_registry_contract_pass_and_fail(spark):
    reg = ModelRegistry()
    reg.add(
        Model(
            name="ok_model",
            sql="SELECT 1 AS a, 2 AS b",
            columns=("a", "b"),
        )
    )
    reg.add(
        Model(
            name="renamed_model",
            sql="SELECT 1 AS a, 2 AS b_renamed",
            columns=("a", "b"),
        )
    )
    assert reg.build_df(spark, "ok_model").columns == ["a", "b"]
    with pytest.raises(ContractViolation, match="renamed_model"):
        reg.build_df(spark, "renamed_model")


def test_registry_contract_rejects_undeclared_extra(spark):
    reg = ModelRegistry()
    reg.add(
        Model(name="wide", sql="SELECT 1 AS a, 2 AS b", columns=("a",))
    )
    with pytest.raises(ContractViolation, match="undeclared"):
        reg.run(spark)


# ---------------------------------------------------------------------
# Schema evolution
# ---------------------------------------------------------------------


def test_table_append_evolve_new_column(spark):
    t = "t_evolve"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    v1 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")],
        "id int, payload string, ingest_on string",
    )
    assert write_table_append_evolve(spark, v1, t) == []
    v2 = spark.createDataFrame(
        [(3, "c", 0.5, "2024-02-01")],
        "id int, payload string, score double, ingest_on string",
    )
    assert write_table_append_evolve(spark, v2, t) == ["score"]
    back = spark.table(t)
    # Union schema, old rows NULL for the evolved column.
    assert "score" in back.columns
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 3
    assert rows[1].score is None and rows[3].score == 0.5
    # A later frame MISSING the evolved column appends as NULLs.
    v3 = spark.createDataFrame(
        [(4, "d", "2024-03-01")], "id int, payload string, ingest_on string"
    )
    assert write_table_append_evolve(spark, v3, t) == []
    assert spark.table(t).filter("id = 4").collect()[0].score is None
    spark.sql(f"DROP TABLE {t}")


def test_read_parquet_merged_union_schema(spark, tmp_path):
    p = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id int, x string").write.parquet(
        p + "/d=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.0)], "id int, x string, y double"
    ).write.parquet(p + "/d=2")
    back = read_parquet_merged(spark, p)
    assert {"id", "x", "y"} <= set(back.columns)
    got = {r.id: r.y for r in back.collect()}
    assert got == {1: None, 2: 9.0}


# ---------------------------------------------------------------------
# Writer safety (ADVICE)
# ---------------------------------------------------------------------


def test_overwrite_partitions_safe_under_static_ambient_mode(spark):
    """With the session left in the DEFAULT 'static' overwrite mode,
    overwrite_partitions=True must still replace only the arriving
    partition — not truncate the table (the silent-data-loss path
    flagged in ADVICE)."""
    t = "t_dynsafe"
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    jan = spark.createDataFrame(
        [(1, "2024-01-01")], "id int, ingest_on string"
    )
    feb = spark.createDataFrame(
        [(2, "2024-02-01")], "id int, ingest_on string"
    )
    feb2 = spark.createDataFrame(
        [(9, "2024-02-01")], "id int, ingest_on string"
    )
    try:
        spark.conf.set(key, "static")  # hostile ambient session
        write_table_append_or_create(spark, jan, t)
        write_table_append_or_create(spark, feb, t)
        write_table_append_or_create(
            spark, feb2, t, overwrite_partitions=True
        )
        got = {
            (r.id, r.ingest_on) for r in spark.table(t).collect()
        }
        assert got == {(1, "2024-01-01"), (9, "2024-02-01")}
        assert spark.conf.get(key) == "static"  # restored
    finally:
        spark.conf.set(key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_overwrite_partitions_concurrent_under_static_ambient_mode(spark):
    """Two loads overwriting partitions of two tables at once, in a
    session left in 'static' mode: each replaces only its arriving
    partition, and the ambient mode is restored afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    tables = ("t_dynsafe_a", "t_dynsafe_b")
    schema = "id int, ingest_on string"
    days = [f"2024-01-{d:02d}" for d in range(1, 5)]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_table_append_or_create(
            spark, spark.createDataFrame([(1, d) for d in days], schema), t
        )

    def reload(t, day):
        write_table_append_or_create(
            spark,
            spark.createDataFrame([(9, day)], schema),
            t,
            overwrite_partitions=True,
        )

    try:
        spark.conf.set(key, "static")  # hostile ambient session
        with ThreadPoolExecutor(2) as pool:
            for r in range(3):  # a reloads days 0..2, b days 1..3
                list(pool.map(reload, tables, (days[r], days[r + 1])))
        want = {
            tables[0]: {(9, d) for d in days[:3]} | {(1, days[3])},
            tables[1]: {(1, days[0])} | {(9, d) for d in days[1:]},
        }
        for t in tables:
            got = {(r.id, r.ingest_on) for r in spark.table(t).collect()}
            assert got == want[t], t
        assert spark.conf.get(key) == "static"  # restored
    finally:
        spark.conf.set(key, prev)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_upsert_staging_swap_and_cleanup(spark):
    t = "t_upsert_r2"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "k int, v string"
    )
    upsert_table(spark, base, t, ["k"])
    upd = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    upsert_table(spark, upd, t, ["k"])
    got = {(r.k, r.v) for r in spark.table(t).collect()}
    assert got == {(1, "new"), (2, "keep"), (3, "ins")}
    # No staging/backup residue in the catalog.
    names = {x.name for x in spark.catalog.listTables()}
    assert f"{t}__staging" not in names and f"{t}__old" not in names
    spark.sql(f"DROP TABLE {t}")


# ---------------------------------------------------------------------
# Deterministic salts (ADVICE / SPARK-23207)
# ---------------------------------------------------------------------


def test_salted_sum_correct_and_deterministic(spark):
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v")
    )
    out = {
        r.k: r.v_sum
        for r in salted_sum(df, ["k"], "v", n_salt=7).collect()
    }
    want = {
        r.k: float(r.s)
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert out == want
    # Salt derives from row content only → re-evaluating the same plan
    # (a stand-in for task re-execution) reproduces identical salts.
    from deftunes_spark.ext.scale import _content_salt

    salted = df.withColumn("s", _content_salt(df, 7))
    a = sorted((r.k, r.v, r.s) for r in salted.collect())
    b = sorted((r.k, r.v, r.s) for r in salted.collect())
    assert a == b


def test_salted_join_matches_plain_join(spark):
    big = spark.range(500).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, tag string"
    )
    got = {
        (r.payload, r.tag)
        for r in salted_join(big, small, "k", n_salt=5).collect()
    }
    want = {
        (r.payload, r.tag) for r in big.join(small, "k").collect()
    }
    assert got == want


# ---------------------------------------------------------------------
# SimHash boundary semantics (ADVICE)
# ---------------------------------------------------------------------


def test_simhash_max_hamming_zero_is_exact_match(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma"),
            Row(doc_id=2, text="alpha beta gamma"),  # identical
            Row(doc_id=3, text="totally different words here now"),
        ]
    )
    sims = simhash64(docs, "doc_id", "text")
    pairs = simhash_near_pairs(sims, "doc_id", max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.hamming == 0 for r in pairs)


def test_simhash_max_hamming_validation(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="x y")])
    sims = simhash64(docs, "doc_id", "text")
    for bad in (-1, 16):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_near_pairs(sims, "doc_id", max_hamming=bad)


def test_simhash_md5_variant_matches_python_reference(spark):
    """hash_fn='md5' bit convention: bit i = bit (i%4) of hex digit
    (i//4) of md5(token) — recomputed in pure Python."""
    import hashlib

    texts = {1: "red green blue", 2: "red red blue", 3: "solo"}
    docs = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    got = {
        r.doc_id: r.simhash
        for r in simhash64(docs, "doc_id", "text", hash_fn="md5").collect()
    }
    for did, text in texts.items():
        votes = [0] * 64
        for tok in text.split():
            h = hashlib.md5(tok.encode()).hexdigest()
            for i in range(64):
                bit = (int(h[i // 4], 16) >> (i % 4)) & 1
                votes[i] += 1 if bit else -1
        fp = sum((1 if votes[i] > 0 else 0) << i for i in range(64))
        # Python int → signed-64 wrap to match Spark's long.
        if fp >= 1 << 63:
            fp -= 1 << 64
        assert got[did] == fp, did


# ---------------------------------------------------------------------
# Gopher repetition filters / PII scrub / df-capped jaccard
# ---------------------------------------------------------------------


def test_repetition_stats_values(spark):
    from deftunes_spark.ext.text import with_repetition_stats

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a a"),          # fully repetitive
            Row(doc_id=2, text="w x y z"),          # fully distinct
            Row(doc_id=3, text="a a b ##"),
            Row(doc_id=4, text="   "),              # whitespace-only
        ]
    )
    got = {
        r.doc_id: r
        for r in with_repetition_stats(docs).collect()
    }
    assert got[1].distinct_token_ratio == 0.25
    assert got[1].top_token_fraction == 1.0
    assert got[2].distinct_token_ratio == 1.0
    assert got[2].top_token_fraction == 0.25
    assert got[3].top_token_fraction == 0.5       # 'a' twice of 4
    assert got[3].symbol_token_ratio == 0.5       # '##' / 4 tokens
    assert got[4].distinct_token_ratio == 0.0     # guarded, not NaN


def test_pii_scrub_patterns(spark):
    from deftunes_spark.ext.text import with_pii_scrubbed

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jo.doe+x@corp.example.org!"),
            Row(doc_id=2, text="call (555) 123-4567 or +1 555-123-4567"),
            Row(doc_id=3, text="nothing sensitive here"),
        ]
    )
    got = {r.doc_id: r for r in with_pii_scrubbed(docs).collect()}
    assert got[1].text_scrubbed == "mail me at <EMAIL>!"
    assert got[1].n_redacted == 1
    assert got[2].text_scrubbed == "call <PHONE> or <PHONE>"
    assert got[2].n_redacted == 2
    assert got[3].text_scrubbed == got[3].text and got[3].n_redacted == 0


def test_jaccard_df_cap_drops_stopword_shingles(spark):
    from deftunes_spark.ext.dedup import ngram_jaccard_pairs

    # 'the' appears in every doc; caps below 4 remove it from the sets.
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the alpha beta"),
            Row(doc_id=2, text="the alpha beta"),
            Row(doc_id=3, text="the gamma delta"),
            Row(doc_id=4, text="the epsilon zeta"),
        ]
    )
    full = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.2)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.2, max_doc_freq=3
    )
    # Uncapped: every pair shares 'the' (1/5 = 0.2) → 6 pairs.
    assert full.count() == 6
    # Capped: only the true duplicate pair survives, at full score.
    rows = capped.collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert rows[0].jaccard == 1.0


# ---------------------------------------------------------------------
# r2 code-review regressions
# ---------------------------------------------------------------------


def test_upsert_recovers_from_crashed_swap(spark):
    """A run killed between the two swap renames leaves the base parked
    at {table}__old and no {table}; the next upsert must restore it and
    merge against the ORIGINAL rows, never rebuild from updates alone."""
    t = "t_upsert_crash"
    for residue in (t, f"{t}__old", f"{t}__staging"):
        spark.sql(f"DROP TABLE IF EXISTS {residue}")
    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "k int, v string"
    )
    upsert_table(spark, base, t, ["k"])
    # Simulate the crash window: base renamed away, staging never landed.
    spark.sql(f"ALTER TABLE {t} RENAME TO {t}__old")
    upd = spark.createDataFrame([(1, "new")], "k int, v string")
    upsert_table(spark, upd, t, ["k"])
    got = {(r.k, r.v) for r in spark.table(t).collect()}
    assert got == {(1, "new"), (2, "keep")}  # row 2 survived the crash
    spark.sql(f"DROP TABLE {t}")


def test_table_append_evolve_case_drift(spark):
    """Upstream casing drift ('Score' after 'score') maps onto the
    existing column instead of failing ALTER TABLE or dropping data."""
    t = "t_evolve_case"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    v1 = spark.createDataFrame(
        [(1, 0.5, "b1")], "id int, score double, batch string"
    )
    write_table_append_evolve(spark, v1, t, partition_col="batch")
    v2 = spark.createDataFrame(
        [(2, 0.7, "b2")], "id int, Score double, batch string"
    )
    assert write_table_append_evolve(spark, v2, t, partition_col="batch") == []
    got = {r.id: r.score for r in spark.table(t).collect()}
    assert got == {1: 0.5, 2: 0.7}
    spark.sql(f"DROP TABLE {t}")


def test_content_salt_handles_map_columns(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i), {"k": str(i)}) for i in range(60)],
        "k int, v double, attrs map<string,string>",
    )
    out = {
        r.k: r.v_sum for r in salted_sum(df, ["k"], "v", n_salt=5).collect()
    }
    want = {
        r.k: float(r.s)
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert out == want


def test_dict_hashes_identical_signatures(spark):
    """The distinct-value hash dictionary (broadcast-joined back) must
    produce bit-identical minhash signatures and simhash fingerprints
    to the per-row hashing path."""
    from deftunes_spark.ext.dedup import minhash_signatures, shingles

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="red green blue red green"),
            Row(doc_id=2, text="red green blue yellow"),
            Row(doc_id=3, text="one two three four five six"),
        ]
    )
    sh = shingles(docs, "doc_id", "text", n=2)
    for fn in ("md5", "xxhash64"):
        a = sorted(
            map(tuple, minhash_signatures(sh, "doc_id", 8, fn).collect())
        )
        # Both dictionary physiques — broadcast join and the
        # no-broadcast-ceiling shuffle join (r14) — must agree with
        # the per-occurrence path bit-for-bit.
        for mode in (True, "shuffle"):
            b = sorted(
                map(
                    tuple,
                    minhash_signatures(
                        sh, "doc_id", 8, fn, dict_hashes=mode
                    ).collect(),
                )
            )
            assert a == b, (fn, mode)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        minhash_signatures(sh, "doc_id", 8, "md5", dict_hashes="bogus")
    a = sorted(
        map(tuple, simhash64(docs, "doc_id", "text", "md5").collect())
    )
    b = sorted(
        map(
            tuple,
            simhash64(
                docs, "doc_id", "text", "md5", dict_hashes=True
            ).collect(),
        )
    )
    assert a == b
