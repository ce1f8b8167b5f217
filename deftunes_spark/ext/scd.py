"""SCD Type-2 dimension builder: turn a keyed change/event log into
versioned rows with validity ranges.

The reference's dims are Type-1 (latest value wins, dim_users.sql);
a production warehouse usually needs Type 2 — every attribute change
opens a new version row with [valid_from, valid_to). Built from pure
window functions:

1. order each key's events by time;
2. keep rows where the tracked attributes differ from the previous
   event (lag) — consecutive duplicates collapse;
3. valid_to = next version's valid_from (lead), NULL for the current
   version.

One shuffle (the window partitioning on the key); at 100 TB the event
log is usually already bucketed by the key, making the sort the only
cost.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_from_log(
    df: DataFrame,
    key: str,
    ts: str,
    attrs: Sequence[str],
) -> DataFrame:
    """Collapse a change log to SCD2 versions.

    Returns (key, attrs..., valid_from, valid_to, version) — version
    numbering is 1-based per key; open versions have NULL valid_to.
    Ties on ``ts`` within a key must not exist (pre-aggregate first).
    """
    w = Window.partitionBy(key).orderBy(ts)
    changed = F.lit(False)
    for a in attrs:
        prev = F.lag(F.col(a)).over(w)
        changed = changed | ~(
            F.col(a).eqNullSafe(prev)
        )
    first = F.lag(F.col(ts)).over(w).isNull()
    versions = (
        df.withColumn("_chg", first | changed)
        .filter(F.col("_chg"))
        .drop("_chg")
    )
    wv = Window.partitionBy(key).orderBy(ts)
    return (
        versions.withColumn("valid_from", F.col(ts))
        .withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("version", F.row_number().over(wv).cast("bigint"))
        .select(key, *attrs, "valid_from", "valid_to", "version")
    )


def dedup_log_ties(
    df: DataFrame, key: str, ts: str, order_col: str
) -> DataFrame:
    """Enforce ``scd2_from_log``'s unique-(key, ts) precondition
    deterministically: keep the min-``order_col`` row per (key, ts)
    instant, so two engines (and two runs) can never pick different
    orders for same-timestamp events. Mirror in SQL oracles with
    ``scd2_tie_dedup_cte``."""
    w = Window.partitionBy(key, ts).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", order_col)
    )


def scd2_tie_dedup_cte(
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    attr: str = "event_type",
    order_col: str = "event_id",
) -> str:
    """The SQL mirror of ``dedup_log_ties`` — paste as a CTE body so
    the Spark queries and their oracles stay in lockstep on the
    tie-break rule."""
    return f"""
    SELECT {key}, {ts}, {attr} FROM (
        SELECT {key}, {ts}, {attr},
               row_number() OVER (
                   PARTITION BY {key}, {ts} ORDER BY {order_col}
               ) AS rn
        FROM {table}
    ) WHERE rn = 1
    """
