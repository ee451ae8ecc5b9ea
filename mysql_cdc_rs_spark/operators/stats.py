"""Aggregation/metrics layer (SURVEY §2.6 A1-A7).

Each reference stats collector becomes one declarative groupBy; Catalyst
plans partial (map-side) + final aggregation automatically, which is the
scalable restatement of the reference's in-memory HashMap collectors
(/root/reference/binlog/src/decoder/event_statistics.rs:8-200,
 /root/reference/binlog/src/row/monitoring.rs:9-180).
``run_report`` folds the run's per-sink (A3), per-event-type (A1) and error
(A6) metrics into one GROUPING SETS job, plus one job for the top hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def event_type_stats(decoded: DataFrame) -> DataFrame:
    """A1: per-event-type counters (count, bytes, min/max/avg sizes, errors)."""
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("raw_len").alias("total_bytes"),
            F.min("raw_len").alias("min_bytes"),
            F.max("raw_len").alias("max_bytes"),
            F.round(F.avg("raw_len"), 4).alias("avg_bytes"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("error_count"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
        .orderBy("event_type")
    )


def global_rollup(decoded: DataFrame) -> DataFrame:
    """A2: global + per-event-type rollup in one pass (GROUPING SETS)."""
    return (
        decoded.rollup("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("raw_len").alias("total_bytes"),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )


def size_histogram(decoded: DataFrame, col: str = "raw_len") -> DataFrame:
    """A4: power-of-two size buckets (reference's row-size distribution)."""
    bucket = F.when(F.col(col) <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(F.col(col)))
    )
    return (
        decoded.withColumn("size_bucket", bucket.cast("int"))
        .groupBy("size_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("size_bucket")
    )


def charset_stats(decoded: DataFrame) -> DataFrame:
    """A7 analog: charset/source distribution (column-parser type stats)."""
    return (
        decoded.filter(F.col("charset").isNotNull())
        .groupBy("charset", "charset_source")
        .agg(F.count("*").alias("n"))
        .orderBy("charset", "charset_source")
    )


# grouping keys of the run report, in grouping_id() bit order (leftmost key
# = most significant bit), and the key set of each of its three sections
_REPORT_KEYS = ("route", "event_type", "error_kind", "tld")
_REPORT_SETS = {
    "per_sink": ("route",),
    "event_type": ("event_type",),
    "errors": ("error_kind", "tld"),
}


def _grouping_id(keys: tuple[str, ...]) -> int:
    """grouping_id() of a grouping set: bit set for each key NOT grouped."""
    n = len(_REPORT_KEYS)
    return sum(1 << (n - 1 - i) for i, k in enumerate(_REPORT_KEYS) if k not in keys)


def _nulls_first(keys: tuple[str, ...]):
    """Sort key matching Spark's ascending orderBy: nulls first."""
    return lambda row: tuple((row[k] is not None, row[k]) for k in keys)


def run_report(routed: DataFrame) -> dict[str, list[dict]]:
    """A1 + A3 + A6 + the 20 top hosts of a routed table, in two jobs.

    One GROUPING SETS aggregate over (route), (event_type) and
    (error_kind, tld) computes every section's rows; they are collected,
    split by ``grouping_id()`` and each section sorted in Python (a few
    dozen rows).  Each
    section equals its own groupBy + orderBy, nulls first.  ``error_kind``
    is the decode error, else HTTP_5XX / HTTP_4XX by status; it is null on
    rows that are neither, and those groups are dropped.

    Top hosts is a plain groupBy: partial aggregation already folds a hot
    host to one row per map task, so salting the key would add a shuffle
    and save nothing for count/sum.
    """
    raw_len = F.coalesce(F.col("body_len"), F.lit(0))
    n_errors = F.count(F.when(F.col("error").isNotNull(), 1))
    error_kind = F.coalesce(
        F.col("error"),
        F.when(F.col("status") >= 500, F.lit("HTTP_5XX")).when(
            F.col("status") >= 400, F.lit("HTTP_4XX")
        ),
    )
    rows = (
        routed.withColumn("raw_len", raw_len)
        .withColumn("error_kind", error_kind)
        .groupingSets([list(k) for k in _REPORT_SETS.values()], *_REPORT_KEYS)
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum("raw_len").alias("total_bytes"),
            F.min("raw_len").alias("min_bytes"),
            F.max("raw_len").alias("max_bytes"),
            F.round(F.avg("raw_len"), 4).alias("avg_bytes"),
            n_errors.alias("decode_errors"),
            F.count(F.when(F.col("enrich_error").isNotNull(), 1)).alias(
                "enrich_errors"
            ),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
        .collect()
    )
    section = {name: [] for name in _REPORT_SETS}
    by_gid = {_grouping_id(keys): name for name, keys in _REPORT_SETS.items()}
    for r in rows:
        section[by_gid[r["gid"]]].append(r)
    for name, keys in _REPORT_SETS.items():
        section[name].sort(key=_nulls_first(keys))

    hosts = (
        routed.groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(raw_len).alias("total_bytes"),
            n_errors.alias("n_errors"),
        )
        .orderBy(F.col("n_pages").desc(), F.col("host"))
        .limit(20)
        .collect()
    )
    return {
        "per_sink": [
            {
                "route": r["route"],
                "n_rows": r["n"],
                "total_body_bytes": r["total_bytes"],
                "avg_body_bytes": r["avg_bytes"],
                "decode_errors": r["decode_errors"],
                "enrich_errors": r["enrich_errors"],
            }
            for r in section["per_sink"]
        ],
        "event_type": [
            {
                "event_type": r["event_type"],
                "n_events": r["n"],
                "total_bytes": r["total_bytes"],
                "min_bytes": r["min_bytes"],
                "max_bytes": r["max_bytes"],
                "avg_bytes": r["avg_bytes"],
                "error_count": r["decode_errors"],
                "first_seen": r["first_seen"],
                "last_seen": r["last_seen"],
            }
            for r in section["event_type"]
        ],
        "errors": [
            {"error_kind": r["error_kind"], "tld": r["tld"], "n": r["n"]}
            for r in section["errors"]
            if r["error_kind"] is not None
        ],
        "top_hosts": [r.asDict() for r in hosts],
    }
