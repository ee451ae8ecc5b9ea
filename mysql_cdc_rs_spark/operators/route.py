"""Routing stage: fan-out to per-route sinks (SURVEY §2.10 R1, §2.1 S7).

The reference dispatches every decoded row to registered handlers by
operation kind (/root/reference/binlog/src/row/event_handler.rs:118-163) and
persists to CRC-checked relay-log segments.  Spark-first restatement: the
route is a COLUMN, and the fan-out is ONE write partitioned by that column —
a single pass over the data, no per-route job, no per-route shuffle.  Each
route directory is then exposed as its own sink table.

Per-sink exact counts (A3) are observed on that same write
(``DataFrame.observe``): the sink is never read back to count it.
``plans.pipeline.run_pipeline`` checks them against its report over the
written table; `routed-row equality` = union(routes) == decoded input,
verified in tests with exceptAll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.kernel import registry
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

ROUTES = ["content_html", "content_plain", "content_binary", "redirect", "errors"]

# Columns persisted to content sinks (the decode-time scratch stays behind).
SINK_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "url_bucket",
    "host",
    "tld",
    "region",
    "category",
    "status",
    "mime",
    "charset",
    "event_type",
    "route",
    "text",
    "title",
    "body_len",
    "error",
    "enrich_error",
]


def route_table(enriched: DataFrame) -> DataFrame:
    """Project the sink schema; route column drives the partitioned write."""
    cols = [c for c in SINK_COLUMNS if c in enriched.columns]
    return enriched.select(*cols)


def write_routes(enriched: DataFrame, catalog: SinkCatalog) -> dict[str, int]:
    """Single-pass fan-out write + exact per-sink counts.

    Returns {route: row_count} observed on the write itself: one
    ``count_if`` per known route (the built-ins plus any registered with
    ``register_route``) and a ``count(*)``, collected by the write job — the
    analog of the reference's per-table metrics keyed by db.table
    (/root/reference/binlog/src/row/monitoring.rs:154-180).
    Observed metrics come from successful task attempts only, so a retried
    task is counted once.  Raises if a row lands on no known route.
    """
    routes = sorted(set(ROUTES) | set(registry._ROUTE_OVERRIDES.values()))  # noqa: SLF001
    obs = Observation("routes")
    routed = route_table(enriched).observe(
        obs,
        F.count(F.lit(1)).alias("*"),
        *(F.count_if(F.col("route") == r).alias(r) for r in routes),
    )
    catalog.overwrite(routed, "routed", partition_by=["route"])
    observed = obs.get
    total = observed.pop("*")
    if sum(observed.values()) != total:
        raise RuntimeError(
            f"route counts {observed} do not sum to the {total} rows written"
        )
    counts = {r: n for r, n in observed.items() if n}
    catalog.write_manifest(
        "routes", {"counts": counts, "total": sum(counts.values())}
    )
    return counts


def route_counts(routed: DataFrame) -> dict[str, int]:
    """{route: row_count} of a routed table, in one groupBy pass."""
    return {
        r["route"]: r["n"]
        for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()
    }
