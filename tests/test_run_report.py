"""The pipeline's run report equals one groupBy per section, exactly.

``stats.run_report`` computes the per-sink, per-event-type and error
sections in one GROUPING SETS job and sorts them in Python, and the top
hosts in a single-phase groupBy.  The reference below is the plans it
replaced: one groupBy + orderBy per section, and a two-phase salted host
aggregate.  They stay here, outside the package, as its independent
reference.
"""

from __future__ import annotations

import datetime
import json
import tempfile

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.operators import stats as S
from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, pages_df

N = 1500


def per_sink_metrics(routed: DataFrame) -> DataFrame:
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


def error_stats(decoded: DataFrame) -> DataFrame:
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


def host_stats_salted(decoded: DataFrame, salt_buckets: int = 8) -> DataFrame:
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


def _extra_pages(spark):
    """A decode error on a url without a host (null host and tld), and
    HTTP 5xx pages on a host of their own."""
    ts = datetime.datetime(2024, 1, 1)
    http500 = b"HTTP/1.1 500 Server Error\r\nContent-Type: text/html\r\n\r\n<p>x</p>"
    rows = [("http:/no-authority/1", ts, b"not an http response", None, "en")]
    rows += [
        (f"https://down.example.org/{i}", ts, http500, "", "en") for i in range(3)
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


@pytest.fixture(scope="module")
def report(spark):
    pages = pages_df(spark, N, seed=42).unionByName(_extra_pages(spark))
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        res = run_pipeline(pages, cat, with_metrics=True, resume=False)
        routed = cat.read("routed")
        decoded = routed.withColumn(
            "raw_len", F.coalesce(F.col("body_len"), F.lit(0))
        )
        hosts = host_stats_salted(decoded).collect()
        want = {
            "per_sink": [r.asDict() for r in per_sink_metrics(routed).collect()],
            "event_type": [
                r.asDict(True) for r in S.event_type_stats(decoded).collect()
            ],
            "errors": [r.asDict() for r in error_stats(decoded).collect()],
            "top_hosts": [r.asDict() for r in hosts[:20]],
        }
        yield res, want, hosts, cat.read_manifest("metrics")


def test_run_report_equals_reference(report):
    res, want, _, _ = report
    assert res.metrics == want
    assert [r["route"] for r in want["per_sink"]] == sorted(res.route_counts)
    # the cases the Python-side ordering has to get right are present
    errors = want["errors"]
    assert any(r["tld"] is None for r in errors)
    assert any(r["error_kind"] == "HTTP_5XX" for r in errors)
    assert any(r["host"] is None for r in report[2])


def test_run_report_manifest(report):
    _, want, _, manifest = report
    assert manifest == json.loads(json.dumps(want, default=lambda t: t.isoformat()))


def test_top_hosts_skewed(report):
    """The hot hosts really are hot: the key the salted reference spread
    over eight reducers, and the single-phase aggregate now handles."""
    _, _, hosts, _ = report
    hot = [r["n_pages"] for r in hosts if (r["host"] or "").startswith("hot.")]
    assert sum(hot) > 0.2 * N
