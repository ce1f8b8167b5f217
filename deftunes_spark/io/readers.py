"""Sources / scans (SURVEY §2.1, S1–S7).

Re-creations of the reference's ingest surface on stock Spark readers:

- S1 REST window fetch  (api-extract-job.py:34-40,53-60)
- S2 JSON-literal → DataFrame (api-extract-job.py:63)
- S3 JDBC table scan    (extract-songs-job.py:30-38)
- S4 JSON directory scan (transform-json-job.py:70-75)
- S5 CSV directory scan, header, all-string (transform-songs-job.py:62-81)
- S6/S7 catalog scan + introspection (spark.table / spark.catalog)

All readers return plain DataFrames; schema inference at landing,
explicit enforcement later (transforms layer) — mirroring the
reference's inferred-then-enforced schema system (SURVEY §1.3).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The shared driver testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one shared-testdata parquet table (columnar, pushdown-able)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# --- S1: REST API window fetch -------------------------------------------
def fetch_rest_window(
    spark: SparkSession,
    api_url: str,
    start_date: str,
    end_date: str,
    fetcher: Callable[[str], list[dict]] | None = None,
) -> DataFrame:
    """GET ``{url}?start_date=&end_date=`` → DataFrame.

    Same contract as the reference's ``fetch_data_from_api``
    (api-extract-job.py:34-40): non-200 raises, body must be a JSON
    array. ``fetcher`` is injectable so tests (and offline runs) can
    supply a deterministic fake; the default uses ``requests`` if
    present. The fetch is driver-side (the payload is one monthly
    increment — small by construction); distribution happens at the
    next stage when the landing write repartitions.
    """
    url = f"{api_url}?start_date={start_date}&end_date={end_date}"
    if fetcher is None:
        try:
            import requests  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "no HTTP client available; pass fetcher= explicitly"
            ) from exc

        def fetcher(u: str) -> list[dict]:
            resp = requests.get(u, timeout=60)
            if resp.status_code != 200:
                raise RuntimeError(f"API returned {resp.status_code} for {u}")
            return resp.json()

    rows = fetcher(url)
    if not isinstance(rows, list):
        raise ValueError("API payload must be a JSON array of records")
    return read_json_literal(spark, json.dumps(rows))


def _urllib_fetcher(url: str) -> list[dict]:
    """Stdlib HTTP fetcher (no external deps — picklable for the
    executor-side fan-out). Non-200 raises; body must be a JSON array."""
    from urllib.request import urlopen  # noqa: PLC0415

    with urlopen(url, timeout=60) as resp:
        if resp.status != 200:
            raise RuntimeError(f"API returned {resp.status} for {url}")
        return json.loads(resp.read().decode("utf-8"))


def fetch_rest_windows(
    spark: SparkSession,
    api_url: str,
    windows: list[tuple[str, str]],
    fetcher: Callable[[str], list[dict]] | None = None,
    max_workers: int = 8,
    landing_path: str | None = None,
    num_files: int = 1,
) -> DataFrame:
    """Backfill fan-out: fetch MANY date windows concurrently (driver
    thread pool), preserving the per-window idempotent landing write
    (api-extract-job.py:66-72 — each window overwrites its own
    ``ingest_on={start}`` partition path, so re-running a backfill is
    a no-op byte-wise).

    Same endpoint contract as ``fetch_rest_window``; HTTP latency —
    the driver loop's actual bottleneck over a long backfill — is
    overlapped across ``max_workers`` threads. Landing writes run
    after the fetches (driver-side Spark job submission is serial
    anyway). For 1000-way executor-side fan-out use
    ``fetch_rest_windows_distributed``.
    """
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    fetcher = fetcher or _urllib_fetcher

    def one(w: tuple[str, str]) -> tuple[str, str, list[dict]]:
        s, e = w
        rows = fetcher(f"{api_url}?start_date={s}&end_date={e}")
        if not isinstance(rows, list):
            raise ValueError("API payload must be a JSON array of records")
        return s, e, rows

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        results = list(ex.map(one, windows))

    all_rows: list[dict] = []
    if landing_path is not None:
        from deftunes_spark.io.writers import (  # noqa: PLC0415
            write_landing_json,
        )

        for s, _e, rows in results:
            write_landing_json(
                read_json_literal(spark, json.dumps(rows)),
                landing_path,
                s,
                num_files,
            )
    for _s, _e, rows in results:
        all_rows.extend(rows)
    return read_json_literal(spark, json.dumps(all_rows))


def fetch_rest_windows_distributed(
    spark: SparkSession,
    api_url: str,
    windows: list[tuple[str, str]],
    fetcher: Callable[[str], list[dict]] | None = None,
) -> DataFrame:
    """Executor-side window fan-out: one HTTP fetch per TASK via
    ``mapInPandas`` over a window table — the 1000-way-parallel
    backfill shape SCALE.md describes (rate limiting becomes task
    sizing; a failed window retries with its task).

    Returns ``(start_date, end_date, record)`` where ``record`` is the
    raw JSON object text (sorted keys — deterministic) — parsing /
    schema enforcement happens in the transform layer, same
    inferred-then-enforced discipline as the landing files. Write with
    ``partitionBy('start_date')`` + dynamic partition overwrite for
    the idempotent-per-window landing contract at scale.

    Caveat (SCALE.md): against a cursorless offset-paging API,
    per-window fetches race concurrent upstream writes — use for
    backfills over closed windows, not the live increment.
    """
    fetcher = fetcher or _urllib_fetcher
    wdf = spark.createDataFrame(
        list(windows), "start_date string, end_date string"
    ).repartition(max(1, len(windows)))

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for s, e in zip(pdf["start_date"], pdf["end_date"]):
                rows = fetcher(f"{api_url}?start_date={s}&end_date={e}")
                if not isinstance(rows, list):
                    raise ValueError(
                        "API payload must be a JSON array of records"
                    )
                recs = [json.dumps(r, sort_keys=True) for r in rows]
                yield pd.DataFrame(
                    {
                        "start_date": [s] * len(recs),
                        "end_date": [e] * len(recs),
                        "record": recs,
                    }
                )

    return wdf.mapInPandas(
        run, "start_date string, end_date string, record string"
    )


# --- S2: JSON literal → DataFrame ----------------------------------------
def read_json_literal(spark: SparkSession, payload: str) -> DataFrame:
    """Parallelize a JSON string and infer schema (api-extract-job.py:63).

    One slice: the payload is one string, and every further slice
    would be an empty Python-worker task in each job over the frame.
    """
    return spark.read.json(spark.sparkContext.parallelize([payload], 1))


# --- S3: JDBC table scan --------------------------------------------------
def read_jdbc_table(
    spark: SparkSession,
    url: str,
    dbtable: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """Full scan of a relational table via JDBC (extract-songs-job.py:30-38).

    At scale, pass ``partition_column``/bounds so the scan fans out to
    ``num_partitions`` parallel range queries instead of a single
    connection — the Glue DynamicFrame equivalent hid this knob.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach the JDBC source as the literal
            # "None" and surface as an opaque JVM
            # NumberFormatException at load() — validate here instead.
            raise ValueError(
                "read_jdbc_table: partition_column requires both "
                "lower_bound and upper_bound (the partition range "
                "endpoints for the parallel range queries)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


# --- S4: JSON directory scan ---------------------------------------------
def read_json_landing(spark: SparkSession, path: str) -> DataFrame:
    """Read one landing JSON dir, schema inferred (transform-json-job.py:70-75)."""
    return spark.read.json(path)


# --- S5: CSV directory scan ----------------------------------------------
def read_csv_landing(spark: SparkSession, path: str) -> DataFrame:
    """Landing CSV: header, quote ``"``, all columns as strings.

    Mirrors the DynamicFrame read + ``.toDF()`` (transform-songs-job.py:
    62-81) without the Glue-proprietary choice types: every column
    lands as string; the transform layer casts (P4).
    """
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("sep", ",")
        .option("recursiveFileLookup", True)
        .csv(path)
    )


# --- Evolved-schema parquet read -----------------------------------------
def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with ``mergeSchema=true``: the union schema across
    all footers, so a directory whose files were written before AND
    after a column was added reads as one frame (older files yield
    NULL). This is the path-based counterpart of
    ``write_table_append_evolve`` — together they re-express the
    Iceberg format-v2 schema-evolution semantics the reference relies
    on (transform-json-job.py:156-187). Footer merging scans every
    file's metadata, so it is off by default in Spark; reserve it for
    evolved directories (catalog tables carry their schema instead)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


# --- S6/S7: catalog scan + introspection ---------------------------------
def table_exists(spark: SparkSession, table: str) -> bool:
    """Existence probe driving append-vs-create (transform-json-job.py:147-151)."""
    return spark.catalog.tableExists(table)
