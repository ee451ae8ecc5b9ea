"""Aggregation/metrics layer (SURVEY §2.6 A1-A7).

Each reference stats collector becomes one declarative groupBy job; Catalyst
plans partial (map-side) + final aggregation automatically, which is the
scalable restatement of the reference's in-memory HashMap collectors
(/root/reference/binlog/src/decoder/event_statistics.rs:8-200,
 /root/reference/binlog/src/row/monitoring.rs:9-180).
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


def per_sink_metrics(routed: DataFrame) -> DataFrame:
    """A3: per-route (per-sink) exact counts + size/op mix."""
    return (
        routed.groupBy("route")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.col("body_len"), F.lit(0))).alias("total_body_bytes"),
            F.round(F.avg(F.coalesce(F.col("body_len"), F.lit(0))), 4).alias(
                "avg_body_bytes"
            ),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("decode_errors"),
            F.count(F.when(F.col("enrich_error").isNotNull(), 1)).alias(
                "enrich_errors"
            ),
        )
        .orderBy("route")
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


def error_stats(decoded: DataFrame) -> DataFrame:
    """A6: errors by kind x tld — feeds the decode-error metrics sink."""
    return (
        decoded.filter(F.col("error").isNotNull() | (F.col("status") >= 400))
        .withColumn(
            "error_kind",
            F.coalesce(
                F.col("error"),
                F.when(F.col("status") >= 500, F.lit("HTTP_5XX")).otherwise(
                    F.lit("HTTP_4XX")
                ),
            ),
        )
        .groupBy("error_kind", "tld")
        .agg(F.count("*").alias("n"))
        .orderBy("error_kind", "tld")
    )


def charset_stats(decoded: DataFrame) -> DataFrame:
    """A7 analog: charset/source distribution (column-parser type stats)."""
    return (
        decoded.filter(F.col("charset").isNotNull())
        .groupBy("charset", "charset_source")
        .agg(F.count("*").alias("n"))
        .orderBy("charset", "charset_source")
    )


def host_stats_salted(decoded: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Per-host stats with two-phase salted aggregation (SURVEY §4 item 2).

    host is the pipeline's genuinely skewed high-cardinality key (~30% of
    rows land on hot.<tld> hosts by construction): phase 1 aggregates on
    (host, salt) so a hot host's rows spread over `salt_buckets` reducers,
    phase 2 merges the partials per host.  Exactly equal to the direct
    groupBy (verified by skew_salted_agg's oracle pattern) while bounding
    the largest reduce task at 1/salt_buckets of the hot key.
    """
    from pyspark.sql import functions as F

    salted = decoded.select(
        "host",
        F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).alias("salt"),
        F.coalesce(F.col("raw_len"), F.lit(0)).alias("raw_len"),
        F.when(F.col("error").isNotNull(), 1).otherwise(0).alias("is_err"),
    )
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("pn"),
        F.sum("raw_len").alias("pb"),
        F.sum("is_err").alias("pe"),
    )
    return (
        partial.groupBy("host")
        .agg(
            F.sum("pn").alias("n_pages"),
            F.sum("pb").alias("total_bytes"),
            F.sum("pe").alias("n_errors"),
        )
        .orderBy(F.col("n_pages").desc(), F.col("host"))
    )
