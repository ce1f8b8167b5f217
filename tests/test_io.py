import json

from pyspark.sql import functions as F

from deftunes_spark.io import (
    fetch_rest_window,
    read_csv_landing,
    read_json_landing,
    read_json_literal,
    write_landing_csv,
    write_landing_json,
    write_table_append_or_create,
)


def test_rest_fetch_with_injected_fetcher(spark):
    captured = {}

    def fake(url):
        captured["url"] = url
        return [{"user_id": "u1", "v": 1}, {"user_id": "u2", "v": 2}]

    df = fetch_rest_window(
        spark, "http://api/users", "2020-02-01", "2020-02-29", fetcher=fake
    )
    assert captured["url"] == (
        "http://api/users?start_date=2020-02-01&end_date=2020-02-29"
    )
    assert df.count() == 2 and "user_id" in df.columns


def test_rest_fetch_rejects_non_array(spark):
    try:
        fetch_rest_window(
            spark, "u", "a", "b", fetcher=lambda _u: {"not": "a list"}
        )
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_json_literal_roundtrip(spark):
    payload = json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    df = read_json_literal(spark, payload)
    assert df.count() == 2
    assert set(df.columns) == {"a", "b"}


def test_json_literal_one_partition_same_frame(spark):
    """One slice for the one payload string; schema and rows are those
    of the default-parallelism frame."""
    payload = json.dumps(
        [
            {"a": i, "b": f"x{i}", "c": {"d": [i, i + 1]}}
            for i in range(7)
        ]
        + [{"a": 7, "e": 1.5}]
    )
    df = read_json_literal(spark, payload)
    ref = spark.read.json(spark.sparkContext.parallelize([payload]))
    assert df.rdd.getNumPartitions() == 1
    assert df.schema == ref.schema
    assert sorted(df.collect()) == sorted(ref.collect())


def test_landing_json_overwrite_idempotent(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    p1 = write_landing_json(df, str(tmp_path), "2020-02-01")
    # Re-run of same date overwrites, not duplicates (K1 idempotency).
    p2 = write_landing_json(df, str(tmp_path), "2020-02-01")
    assert p1 == p2
    back = read_json_landing(spark, p1)
    assert back.count() == 10


def test_landing_csv_all_strings(spark, tmp_path):
    df = spark.range(5).withColumn("price", F.col("id") * 1.5)
    path = write_landing_csv(df, str(tmp_path), "2020-02-01")
    back = read_csv_landing(spark, path)
    assert all(f.dataType.simpleString() == "string" for f in back.schema)
    assert back.count() == 5


def test_table_append_or_create(spark, tmp_path):
    name = "t_append_create"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.range(6).withColumn(
        "ingest_on", F.lit("2020-02-01")
    )
    write_table_append_or_create(spark, df, name)  # create
    assert spark.table(name).count() == 6
    df2 = spark.range(4).withColumn("ingest_on", F.lit("2020-03-01"))
    write_table_append_or_create(spark, df2, name)  # append
    assert spark.table(name).count() == 10
    # Idempotent re-run of the same window with dynamic overwrite.
    write_table_append_or_create(
        spark, df2, name, overwrite_partitions=True
    )
    assert spark.table(name).count() == 10
    parts = {
        r.ingest_on for r in spark.table(name).select("ingest_on").collect()
    }
    assert parts == {"2020-02-01", "2020-03-01"}
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_upsert_table(spark):
    from deftunes_spark.io.writers import upsert_table

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["k", "s", "v"]
    )
    upsert_table(spark, base, "upsert_t", ["k"])
    upd = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], ["k", "s", "v"]
    )
    upsert_table(spark, upd, "upsert_t", ["k"])
    got = {r.k: (r.s, r.v) for r in spark.table("upsert_t").collect()}
    assert got == {1: ("a", 1.0), 2: ("B", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}
    # idempotent re-run of the same update batch
    upsert_table(spark, upd, "upsert_t", ["k"])
    assert spark.table("upsert_t").count() == 4
    spark.sql("DROP TABLE IF EXISTS upsert_t")


class _WindowStubServer:
    """Local HTTP stub: serves a deterministic JSON array derived from
    the window query params — the per-window fetch contract."""

    def __enter__(self):
        import http.server
        import threading
        from urllib.parse import parse_qs, urlparse

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                q = parse_qs(urlparse(self.path).query)
                s = q["start_date"][0]
                e = q["end_date"][0]
                body = json.dumps(
                    [
                        {"user_id": i, "window_start": s, "window_end": e}
                        for i in range(3)
                    ]
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence request logging
                pass

        self.srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.srv.serve_forever)
        self.thread.daemon = True
        self.thread.start()
        return f"http://127.0.0.1:{self.srv.server_address[1]}/sessions"

    def __exit__(self, *exc):
        self.srv.shutdown()
        self.thread.join()


def _landing_bytes(path):
    """Sorted per-window concatenated landing content (file NAMES carry
    a write UUID; the idempotence contract is about bytes)."""
    import glob as g
    import os

    out = {}
    for d in sorted(g.glob(str(path) + "/ingest_on=*")):
        chunks = []
        for f in sorted(g.glob(d + "/part-*")):
            with open(f, "rb") as fh:
                chunks.append(fh.read())
        out[os.path.basename(d)] = b"".join(chunks)
    return out


def test_fetch_rest_windows_concurrent_landing(spark, tmp_path):
    """Three windows fetched through a real (local) HTTP stub with a
    concurrent pool; per-window landing paths written idempotently —
    re-running the backfill produces byte-identical landing output."""
    from deftunes_spark.io.readers import fetch_rest_windows

    windows = [
        ("2020-01-01", "2020-02-01"),
        ("2020-02-01", "2020-03-01"),
        ("2020-03-01", "2020-04-01"),
    ]
    land = str(tmp_path / "landing")
    with _WindowStubServer() as url:
        df = fetch_rest_windows(
            spark, url, windows, max_workers=3, landing_path=land
        )
        assert df.count() == 9
        assert set(df.columns) == {"user_id", "window_start", "window_end"}
        first = _landing_bytes(land)
        assert set(first) == {f"ingest_on={s}" for s, _ in windows}
        # Idempotent re-run: same bytes per window partition.
        fetch_rest_windows(
            spark, url, windows, max_workers=3, landing_path=land
        )
        assert _landing_bytes(land) == first


def test_fetch_rest_windows_distributed(spark):
    """Executor-side fan-out: one task per window via mapInPandas,
    records returned as deterministic sorted-key JSON text."""
    from deftunes_spark.io.readers import fetch_rest_windows_distributed

    windows = [("2020-01-01", "2020-02-01"), ("2020-02-01", "2020-03-01")]
    with _WindowStubServer() as url:
        out = fetch_rest_windows_distributed(spark, url, windows)
        rows = out.collect()
    assert len(rows) == 6
    by_window = {}
    for r in rows:
        by_window.setdefault(r.start_date, []).append(r.record)
    assert set(by_window) == {"2020-01-01", "2020-02-01"}
    rec = json.loads(sorted(by_window["2020-01-01"])[0])
    assert rec == {
        "user_id": 0,
        "window_start": "2020-01-01",
        "window_end": "2020-02-01",
    }


def test_fetch_rest_windows_distributed_landing_partitioned(
    spark, tmp_path
):
    """The documented scale landing pattern for the executor-side
    fan-out: partitionBy(start_date) + dynamic partition overwrite →
    re-running a backfill rewrites only its own window partitions."""
    from deftunes_spark.io.readers import fetch_rest_windows_distributed

    windows = [("2020-01-01", "2020-02-01"), ("2020-02-01", "2020-03-01")]
    land = str(tmp_path / "dist_landing")
    with _WindowStubServer() as url:
        out = fetch_rest_windows_distributed(spark, url, windows)
        (
            out.write.partitionBy("start_date")
            .mode("overwrite")
            .json(land)
        )
        first = _partition_rows(spark, land)
        # Re-run ONE window only: with dynamic overwrite the other
        # window's partition must survive untouched.
        again = fetch_rest_windows_distributed(spark, url, windows[:1])
        (
            again.write.partitionBy("start_date")
            .mode("overwrite")
            .json(land)
        )
    assert _partition_rows(spark, land) == first
    assert set(first) == {"2020-01-01", "2020-02-01"}
    assert all(n == 3 for n in first.values())


def _partition_rows(spark, path):
    df = spark.read.json(path)
    return {
        str(r.start_date): r.n
        for r in df.groupBy("start_date").count()
        .withColumnRenamed("count", "n").collect()
    }


def test_upsert_preserves_partition_spec(spark, tmp_path):
    """upsert_table's staging swap must keep the table PARTITIONED —
    a bare staging write would swap in an unpartitioned table, after
    which dynamic partition overwrite truncates everything
    (regression)."""
    import pyspark.sql.functions as F

    from deftunes_spark.io.writers import (
        upsert_table,
        write_table_append_or_create,
    )

    table = "upsert_part_spec_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.createDataFrame(
        [(1, "a", "2024-01"), (2, "b", "2024-01"), (3, "c", "2024-02")],
        ["id", "v", "ingest_on"],
    )
    write_table_append_or_create(spark, df, table)
    upd = spark.createDataFrame(
        [(2, "B", "2024-01"), (4, "d", "2024-02")],
        ["id", "v", "ingest_on"],
    )
    upsert_table(spark, upd, table, ["id"])
    parts = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    assert parts == ["ingest_on"]  # spec survived the swap
    got = {r.id: r.v for r in spark.table(table).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # Dynamic partition overwrite of ONE month after the upsert must
    # leave the other month intact.
    feb = spark.createDataFrame(
        [(9, "z", "2024-02")], ["id", "v", "ingest_on"]
    )
    write_table_append_or_create(
        spark, feb, table, overwrite_partitions=True
    )
    left = {r.id for r in spark.table(table).collect()}
    assert left == {1, 2, 9}
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_append_rejects_unknown_columns(spark):
    from deftunes_spark.io.writers import write_table_append_or_create

    table = "append_strict_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.createDataFrame([(1, "a", "m1")], ["id", "v", "ingest_on"])
    write_table_append_or_create(spark, df, table)
    wider = spark.createDataFrame(
        [(2, "b", "x", "m1")], ["id", "v", "new_col", "ingest_on"]
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="append_evolve"):
        write_table_append_or_create(spark, wider, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
