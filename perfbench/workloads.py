"""The three benchmark workloads, driven only through the engine's
public functions.

Each workload has ``setup`` (inputs, and for ``bi_serving`` the gold
build), ``run_pass`` (one timed unit of work, made of operations the
client waits for) and ``check`` (output checks against the generator's
expected answers). ``Run`` counts operations, failures and latencies.

- ``backfill``: windows 2020-02..2020-04 through ``pipeline.Pipeline``,
  then a re-run of 2020-03. One operation is one window run.
- ``bi_serving``: a fixed, seeded query sequence against the gold
  snapshots. One operation is one query.
- ``curation``: the LLM-data chain on a corpus with planted
  near-duplicates. One operation is one stage of the chain.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from deftunes_spark.ext import curation as ext_curation
from deftunes_spark.ext import dedup as ext_dedup
from deftunes_spark.ext import export as ext_export
from deftunes_spark.ext import text as ext_text
from deftunes_spark.ext import tokenizer as ext_tokenizer
from deftunes_spark.ext import training as ext_training
from deftunes_spark.io import readers, versioned, writers
from deftunes_spark.models import star
from deftunes_spark.pipeline import Pipeline, PipelineTask
from deftunes_spark.quality import REFERENCE_RULESETS
from deftunes_spark.quality.evaluator import quality_gate
from deftunes_spark import transforms

from perfbench import gen

API = "http://deftunes.invalid/api"
TABLES = ("users", "sessions", "songs")
GOLD = ("dim_users", "dim_songs", "dim_artists", "fact_session")
REL_TOL = 1e-9


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


class Run:
    """Per-run state: session, tracer, scratch root and the operation
    tally every workload reports into."""

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.root = root
        self.seed = seed
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, "data", *parts)

    def op(self, fn, *args, **kwargs):
        """One client operation: timed, counted, failures recorded."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            return None
        self.latencies.append(time.perf_counter() - t0)
        return out

    def check(self, label: str, ok: bool) -> None:
        """One output check, counted as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {label}")
            print(f"check failed: {label}", file=sys.stderr)


def _reset_zone(run: Run) -> None:
    for t in TABLES:
        run.spark.sql(f"DROP TABLE IF EXISTS silver_{t}")
    for zone in ("landing", "gold"):
        shutil.rmtree(run.path(zone), ignore_errors=True)
    shutil.rmtree(os.path.join(run.root, "warehouse"), ignore_errors=True)


def space_amp(run: Run) -> float:
    """Bytes of every retained gold version over the bytes of the
    latest snapshots."""
    latest = 0
    for name in GOLD:
        m = versioned.list_versions(run.spark, run.path("gold", name))[-1]
        latest += sum(dir_bytes(p) for p in m["data_dirs"])
    return dir_bytes(run.path("gold")) / latest


def songs_frame(spark, d: gen.Deftunes):
    """The song catalog as the all-string frame a JDBC extract gives."""
    cols = list(d.songs[0])
    return spark.createDataFrame(
        [tuple(s[c] for c in cols) for s in d.songs],
        ", ".join(f"{c} string" for c in cols),
    )


# --- backfill ----------------------------------------------------------------


class Backfill:
    """The paper's serialized monthly backfill, landing to BI views."""

    sizes = {"sessions_per_window": 4000, "users_per_window": 1500}

    def __init__(self, sizes: dict | None = None):
        self.sizes = {**self.sizes, **(sizes or {})}
        self.attempts = 0
        self.useful = 0
        self.commits = 0

    def setup(self, run: Run) -> None:
        self.data = gen.make_deftunes(run.seed, **self.sizes)
        self.songs_df = songs_frame(run.spark, self.data)
        self.views: dict[str, list] = {}

    def _task(self, name, fn, depends_on=(), is_gate=False) -> PipelineTask:
        def counted(ctx):
            self.attempts += 1
            out = fn(ctx)
            self.useful += 1
            return out

        return PipelineTask(
            name, counted, depends_on=tuple(depends_on), is_gate=is_gate
        )

    def pipeline(self, run: Run) -> Pipeline:
        tr, spark, d = run.tr, run.spark, self.data

        def extract(table):
            def fn(ctx):
                if table == "songs":
                    df = self.songs_df
                    write = writers.write_landing_csv
                else:
                    df = tr.call(
                        "io.readers",
                        readers.fetch_rest_window,
                        spark,
                        f"{API}/{table}",
                        ctx["window_start"],
                        ctx["window_end"],
                        fetcher=d.fetcher,
                    )
                    write = writers.write_landing_json
                tr.call(
                    "io.writers",
                    write,
                    df,
                    run.path("landing", table),
                    ctx["ingest_date"],
                )

            return fn

        def transform(table):
            def fn(ctx):
                path = run.path(
                    "landing", table, f"ingest_on={ctx['ingest_date']}"
                )
                if table == "songs":
                    raw = tr.call(
                        "io.readers", readers.read_csv_landing, spark, path
                    )
                    df = tr.call(
                        "transforms",
                        transforms.songs_enforce_schema,
                        raw,
                        lazy=True,
                    )
                    extra = {"source_from": "postgres_rds"}
                else:
                    raw = tr.call(
                        "io.readers", readers.read_json_landing, spark, path
                    )
                    step = (
                        transforms.users_flatten
                        if table == "users"
                        else transforms.sessions_explode
                    )
                    df = tr.call("transforms", step, raw, lazy=True)
                    extra = {
                        "processing_timestamp": ctx["ingest_date"] + "T00:00:00"
                    }
                ctx[table] = tr.call(
                    "transforms",
                    transforms.add_lineage_columns,
                    df,
                    ctx["ingest_date"],
                    lazy=True,
                    **extra,
                )

            return fn

        def gate(table):
            return lambda ctx: tr.call(
                "quality", quality_gate, ctx[table], REFERENCE_RULESETS[table]
            )

        def load(table):
            return lambda ctx: tr.call(
                "io.writers",
                writers.write_table_append_or_create,
                spark,
                ctx[table],
                f"silver_{table}",
                overwrite_partitions=True,
            )

        def gold(ctx):
            src = {
                "dim_users": spark.table("silver_users"),
                "dim_songs": spark.table("silver_songs"),
                "dim_artists": spark.table("silver_songs"),
                "fact_session": spark.table("silver_sessions"),
            }
            for name in GOLD:
                df = tr.call("models", getattr(star, name), src[name], lazy=True)
                tr.call(
                    "io.versioned",
                    versioned.write_versioned,
                    spark,
                    df,
                    run.path("gold", name),
                )
                self.commits += 1

        def bi_views(ctx):
            g = {
                name: tr.call(
                    "io.versioned",
                    versioned.read_version,
                    spark,
                    run.path("gold", name),
                )
                for name in ("fact_session", "dim_artists", "dim_users")
            }
            self.views["artist"] = tr.call(
                "models",
                lambda: star.sales_per_artist(
                    g["fact_session"], g["dim_artists"]
                ).collect(),
                name="sales_per_artist",
            )
            self.views["country"] = tr.call(
                "models",
                lambda: star.sales_per_country(
                    g["fact_session"], g["dim_users"]
                ).collect(),
                name="sales_per_country",
            )

        p = Pipeline("deftunes_backfill")
        for t in TABLES:
            p.add(self._task(f"extract_{t}", extract(t)))
            p.add(self._task(f"transform_{t}", transform(t), [f"extract_{t}"]))
            p.add(
                self._task(f"dq_{t}", gate(t), [f"transform_{t}"], is_gate=True)
            )
            p.add(self._task(f"load_{t}", load(t), [f"dq_{t}"]))
        p.add(self._task("gold", gold, [f"load_{t}" for t in TABLES]))
        p.add(self._task("bi_views", bi_views, ["gold"]))
        return p

    def run_pass(self, run: Run) -> None:
        _reset_zone(run)
        self.views = {}
        pipe = self.pipeline(run)
        for window in gen.WINDOWS + [gen.RERUN]:
            run.op(run.tr.call, "pipeline", pipe.run_window, window)

    def check(self, run: Run) -> None:
        d, spark = self.data, run.spark
        for t in TABLES:
            got = {
                str(r["ingest_on"]): r["count"]
                for r in spark.table(f"silver_{t}").groupBy("ingest_on").count().collect()
            }
            want = {nxt: d.silver_counts[(t, ds)] for ds, nxt in gen.WINDOWS}
            run.check(f"silver_{t} counts {got} != {want}", got == want)
        artist = {
            (r["session_year"], r["artist_name"]): r["total_sales"]
            for r in self.views.get("artist", [])
        }
        run.check(
            "sales_per_artist totals",
            artist.keys() == d.artist_sales.keys()
            and all(close(artist[k], v) for k, v in d.artist_sales.items()),
        )
        country = {
            (r["session_month"], r["session_year"], r["country_code"]): r[
                "total_sales"
            ]
            for r in self.views.get("country", [])
        }
        run.check(
            "sales_per_country totals",
            country.keys() == d.country_sales.keys()
            and all(close(country[k], v) for k, v in d.country_sales.items()),
        )
        # Every window committed one fact version; the re-run's version
        # holds the same rows as the one before it.
        rows = [
            m["rows"]
            for m in versioned.list_versions(
                spark, run.path("gold", "fact_session")
            )
        ]
        want_rows = [n for n, _ in d.fact_after] + [d.fact_after[-1][0]]
        run.check(f"fact versions {rows} != {want_rows}", rows == want_rows)

    def stored_bytes(self, run: Run) -> int:
        return sum(
            dir_bytes(p)
            for p in (
                run.path("landing"),
                os.path.join(run.root, "warehouse"),
                run.path("gold"),
            )
        )

    def input_bytes(self) -> int:
        return self.data.input_bytes

    def layer_extras(self, run: Run, passes: int) -> dict:
        return {
            "zone_bytes": dir_bytes(run.path("landing"))
            + dir_bytes(os.path.join(run.root, "warehouse")),
            "io.versioned.space_amp": space_amp(run),
            "io.versioned.commits": self.commits / passes,
            "pipeline.attempts_per_task": self.useful / max(1, self.attempts),
        }


# --- bi_serving --------------------------------------------------------------


class BiServing:
    """Closed loop, one client: a seeded query mix on a gold zone built
    in set-up. Set-up commits the star schema straight from the
    generated records: the dims once, the fact once per window
    (appends), so the fact has one version per window to travel to."""

    sizes = {"sessions_per_window": 4000, "users_per_window": 1500}
    queries_per_pass = 12

    def __init__(self, sizes: dict | None = None):
        self.sizes = {**self.sizes, **(sizes or {})}

    def setup(self, run: Run) -> None:
        d = self.data = gen.make_deftunes(run.seed, **self.sizes)
        spark = run.spark
        shutil.rmtree(run.path("gold"), ignore_errors=True)

        def records(rows):
            return readers.read_json_literal(spark, json.dumps(rows))

        songs = transforms.songs_enforce_schema(songs_frame(spark, d))
        users = None
        for ds, _ in gen.WINDOWS:
            flat = transforms.users_flatten(records(d.users[ds]))
            users = flat if users is None else users.unionByName(flat)
        dims = {
            "dim_users": star.dim_users(users),
            "dim_songs": star.dim_songs(songs),
            "dim_artists": star.dim_artists(songs),
        }
        for name, df in dims.items():
            versioned.write_versioned(spark, df, run.path("gold", name))
        for ds, _ in gen.WINDOWS:
            fact = star.fact_session(
                transforms.sessions_explode(records(d.sessions[ds]))
            )
            versioned.write_versioned(
                spark, fact, run.path("gold", "fact_session"), mode="append"
            )
        rng = random.Random(run.seed ^ 0x5EED)
        buyers = sorted(d.purchases)
        kinds = ("artist", "country", "user", "travel")
        self.sequence = [
            (kinds[i % 4], rng.choice((2, 3, 4)), rng.choice(buyers))
            for i in range(self.queries_per_pass)
        ]

    def _read(self, run: Run, name: str, **kw):
        return run.tr.call(
            "io.versioned",
            versioned.read_version,
            run.spark,
            run.path("gold", name),
            **kw,
        )

    def query(self, run: Run, kind: str, month: int, user: str) -> bool:
        tr, d = run.tr, self.data
        fact = self._read(run, "fact_session")
        if kind == "artist":
            artists = self._read(run, "dim_artists")
            rows = tr.call(
                "models",
                lambda: star.sales_per_artist(fact, artists)
                .filter(F.col("session_year") == 2020)
                .orderBy(F.desc("total_sales"), "artist_name")
                .limit(10)
                .collect(),
                name="sales_per_artist",
            )
            want = d.top_artists(2020)
            return [r["artist_name"] for r in rows] == [n for n, _ in want] and all(
                close(r["total_sales"], t) for r, (_, t) in zip(rows, want)
            )
        if kind == "country":
            users = self._read(run, "dim_users")
            rows = tr.call(
                "models",
                lambda: star.sales_per_country(fact, users)
                .filter(
                    (F.col("session_year") == 2020)
                    & (F.col("session_month") == month)
                )
                .collect(),
                name="sales_per_country",
            )
            got = {r["country_code"]: r["total_sales"] for r in rows}
            want = d.month_sales(2020, month)
            return got.keys() == want.keys() and all(
                close(got[k], v) for k, v in want.items()
            )
        if kind == "user":
            rows = tr.call(
                "models",
                lambda: star.fact_session(fact)
                .filter(F.col("user_id") == user)
                .select("session_id", "song_id", "price")
                .collect(),
                name="fact_session",
            )
            return sorted(tuple(r) for r in rows) == d.purchases[user]
        versions = tr.call(
            "io.versioned",
            versioned.list_versions,
            run.spark,
            run.path("gold", "fact_session"),
        )
        prev = versions[-2]["version"]
        row = tr.call(
            "io.versioned",
            lambda: self._read(run, "fact_session", version=prev)
            .agg(F.count("*").alias("n"), F.sum("price").alias("s"))
            .collect()[0],
            name="read_version",
        )
        n, total = d.fact_after[-2]
        return row["n"] == n and math.isclose(row["s"], total, rel_tol=1e-9)

    def run_pass(self, run: Run) -> None:
        for kind, month, user in self.sequence:
            ok = run.op(self.query, run, kind, month, user)
            run.check(f"{kind} query answer", bool(ok))

    def check(self, run: Run) -> None:
        """Answers are checked per query in ``run_pass``."""

    def stored_bytes(self, run: Run) -> int:
        return dir_bytes(run.path("gold"))

    def input_bytes(self) -> int:
        return self.data.input_bytes

    def layer_extras(self, run: Run, passes: int) -> dict:
        return {"io.versioned.space_amp": space_amp(run)}


# --- curation ---------------------------------------------------------------


class Curation:
    """The LLM-data chain: quality flags, MinHash dedup, semantic
    dedup, BPE train/encode, sequence packing and shard export."""

    sizes = {"n_docs": 2000}
    num_merges = 40
    pack_capacity = 256
    pack_shards = 4
    export_shards = 4

    def __init__(self, sizes: dict | None = None):
        self.sizes = {**self.sizes, **(sizes or {})}

    def setup(self, run: Run) -> None:
        self.corpus = c = gen.make_corpus(run.seed, **self.sizes)
        os.makedirs(run.path("input"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in c.docs], pa.int64()),
                    "text": [t for _, t in c.docs],
                }
            ),
            run.path("input", "docs.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([i for i, _ in c.embeddings], pa.int64()),
                    "embedding": pa.array(
                        [v for _, v in c.embeddings], pa.list_(pa.float32())
                    ),
                }
            ),
            run.path("input", "embeddings.parquet"),
        )
        self.result: dict = {}

    def run_pass(self, run: Run) -> None:
        tr, spark, res = run.tr, run.spark, {}
        self.result = res
        shutil.rmtree(run.path("export"), ignore_errors=True)
        docs = spark.read.parquet(run.path("input", "docs.parquet"))
        emb = spark.read.parquet(run.path("input", "embeddings.parquet"))

        def quality():
            flags = tr.call(
                "ext.text", ext_text.gopher_quality_flags, docs, lazy=True
            )
            res["good"] = flags.filter("gopher_keep").select("doc_id", "text")
            return res["good"].count()

        def text_dedup():
            pairs = tr.call(
                "ext.dedup",
                ext_dedup.minhash_dedup_pairs,
                res["good"],
                "doc_id",
                "text",
            )
            comps = tr.call("ext.dedup", ext_dedup.connected_components, pairs)
            res["pairs_df"], res["comps_df"] = pairs, comps
            res["kept"] = res["good"].join(
                comps, F.col("doc_id") == F.col("node"), "left_anti"
            ).unionByName(
                res["good"].join(
                    comps.filter(F.col("node") == F.col("comp")),
                    F.col("doc_id") == F.col("node"),
                    "left_semi",
                )
            )

        def semantic_dedup():
            sem = tr.call(
                "ext.curation",
                ext_curation.semantic_dedup,
                emb,
                centroids="auto",
            )
            res["sem_dropped"] = {
                r["vec_id"] for r in sem.filter(~F.col("kept")).collect()
            }

        def train():
            res["merges"] = tr.call(
                "ext.tokenizer",
                ext_tokenizer.bpe_train,
                res["kept"],
                num_merges=self.num_merges,
            )

        def export():
            enc = tr.call(
                "ext.tokenizer",
                ext_tokenizer.bpe_encode,
                res["kept"],
                res["merges"],
                lazy=True,
            )
            packed = tr.call(
                "ext.training",
                ext_training.sequence_pack_concat,
                enc.select("doc_id", "n_tokens"),
                "doc_id",
                "",
                capacity=self.pack_capacity,
                shards=self.pack_shards,
                count_col="n_tokens",
                lazy=True,
            )
            tr.call(
                "ext.export",
                ext_export.shard_export,
                enc.select("doc_id", "token_ids").join(
                    packed.drop("shard"), "doc_id"
                ),
                run.path("export"),
                n_shards=self.export_shards,
            )

        for stage in (quality, text_dedup, semantic_dedup, train, export):
            run.op(stage)

    def check(self, run: Run) -> None:
        c, res = self.corpus, self.result
        back = run.spark.read.parquet(run.path("export"))
        stats = back.agg(
            F.count("*").alias("n"),
            F.sum("token_count").alias("tokens"),
            F.countDistinct("doc_id").alias("ids"),
        ).collect()[0]
        self.tokens = stats["tokens"] or 0
        # Collected here, untimed: the pairs plan would re-run MinHash.
        res["pairs"] = [(r["id_a"], r["id_b"]) for r in res["pairs_df"].collect()]
        res["comps"] = {r["node"]: r["comp"] for r in res["comps_df"].collect()}
        run.check(
            f"exported rows {stats['n']} != {c.expected_export_rows}",
            stats["n"] == c.expected_export_rows == stats["ids"],
        )
        run.check("planted text recall", self.text_recall() >= 0.95)
        run.check("pair precision", self.pair_precision() >= 0.95)
        run.check(
            "planted semantic recall", self.semantic_recall() >= 0.95
        )

    def text_recall(self) -> float:
        comps = self.result.get("comps", {})
        c = self.corpus
        hit = sum(
            1
            for copy, src in c.text_copies.items()
            if copy in comps and comps.get(copy) == comps.get(src)
        )
        return hit / len(c.text_copies)

    def pair_precision(self) -> float:
        """Share of reported pairs whose documents share a planted
        source (copy-source or copy-copy of the same source)."""
        pairs = self.result.get("pairs", [])
        if not pairs:
            return 0.0
        root = {i: self.corpus.text_copies.get(i, i) for p in pairs for i in p}
        return sum(root[a] == root[b] for a, b in pairs) / len(pairs)

    def semantic_recall(self) -> float:
        dropped = self.result.get("sem_dropped", set())
        copies = self.corpus.vec_copies
        return sum(i in dropped for i in copies) / len(copies)

    def stored_bytes(self, run: Run) -> int:
        return dir_bytes(run.path("input")) + dir_bytes(run.path("export"))

    def input_bytes(self) -> int:
        return self.corpus.input_bytes

    def layer_extras(self, run: Run, passes: int) -> dict:
        return {
            "ext.dedup.pair_precision": self.pair_precision(),
            "ext.dedup.planted_recall": self.text_recall(),
            "ext.curation.planted_recall": self.semantic_recall(),
            "tokens": self.tokens,
        }


WORKLOADS = {"backfill": Backfill, "bi_serving": BiServing, "curation": Curation}
