"""The traced run: spans around calls into each layer, and the Spark event
log reduced per span.

Spans are recorded from the benchmark's side of the package boundary.  Each
span sets the Spark job description to its name, so the event log can
attribute tasks (Python-worker time and bytes, shuffle, spill, output,
failures) to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mysql_cdc_rs_spark.operators import dedup as DD
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import ROUTES, write_routes
from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
from mysql_cdc_rs_spark.plans.training_pipeline import curate, release

from workloads import survivor_digest

# error kinds the decode and stats layers can emit for generator pages
ERROR_KINDS = [
    "NO_MAGIC",
    "NO_HEADER_END",
    "BAD_STATUS_LINE",
    "BAD_GZIP",
    "UNKNOWN_CHARSET",
    "HTTP_4XX",
    "HTTP_5XX",
]

# route ledger rows, cheapest first; each adds one layer to the one above
LEDGER = [
    "sources.scan",
    "functions.arrow",
    "operators.decode",
    "operators.enrich",
    "operators.route",
    "operators.stats",
]

CURATE_SPANS = ["plans.curate.quality", "plans.curate.dedup", "operators.dedup.pairs"]

# task accumulables of the Arrow Python runner, by event-log name
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def unit_of(metric: str) -> str:
    if metric.endswith("pages_per_s") or metric.endswith("items_per_s"):
        return "pages/s"
    if metric.endswith("mb_per_s"):
        return "MB/s"
    if metric.endswith("_s") or metric.endswith(".s"):
        return "s"
    if metric.endswith("_bytes") or ".python_bytes_" in metric:
        return "bytes"
    if ".rows." in metric:
        return "rows"
    if metric.startswith("tasks_"):
        return "count"
    return "ratio"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)
            self.spans.append(
                {
                    "name": name,
                    "start": start - self._t0,
                    "end": end - self._t0,
                    "parent": parent,
                    "run_id": self.run_id,
                }
            )

    def duration(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        span = next(s for s in reversed(self.spans) if s["name"] == name)
        return span["end"] - span["start"]


def reduce_event_log(log_dir: str) -> dict[str, Counter]:
    """Task metrics summed per job description (None: no span)."""
    stage_desc: dict[int, str | None] = {}
    out: dict[str | None, Counter] = defaultdict(Counter)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    for sid in e.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    _add_task(out[stage_desc.get(e.get("Stage ID"))], e)
    return out


def _add_task(c: Counter, e: dict) -> None:
    c["tasks"] += 1
    reason = (e.get("Task End Reason") or {}).get("Reason")
    if reason == "TaskKilled":
        c["tasks_killed"] += 1
    elif reason != "Success":
        c["tasks_failed"] += 1
    tm = e.get("Task Metrics") or {}
    c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0
    )
    c["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            c[key] += int(acc.get("Update") or 0)


def _identity_arrow_udf():
    # built inside a function so cloudpickle ships it by value: executor
    # Python workers cannot import this benchmark's modules
    @pandas_udf("binary")
    def identity(html: pd.Series) -> pd.Series:
        return html

    return identity


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def route_ledger(tracer: Tracer, pages, fresh_catalog) -> dict:
    """One pass of each cumulative ledger row; returns the last
    ``run_pipeline`` result's exact counts."""
    identity = _identity_arrow_udf()
    rows = {
        "sources.scan": lambda: noop(pages),
        "functions.arrow": lambda: noop(pages.withColumn("html", identity("html"))),
        "operators.decode": lambda: noop(decode_pages(pages)),
        "operators.enrich": lambda: noop(enrich(decode_pages(pages))),
        "operators.route": lambda: write_routes(
            enrich(decode_pages(pages)), fresh_catalog()
        ),
        "operators.stats": lambda: run_pipeline(
            pages, fresh_catalog(), with_metrics=True, resume=False
        ),
    }
    for name in LEDGER:
        with tracer.span(name):
            result = rows[name]()
    counts = {f"operators.route.rows.{r}": result.route_counts.get(r, 0) for r in ROUTES}
    errors = Counter()
    for row in result.metrics["errors"]:
        errors[row["error_kind"]] += row["n"]
    counts.update({f"operators.decode.rows.error.{k}": errors[k] for k in ERROR_KINDS})
    return counts


def curate_spans(tracer: Tracer, pages) -> dict:
    with tracer.span("plans.curate.quality"):
        survivors = curate(pages)
    try:
        with tracer.span("plans.curate.dedup"):
            n_survivors = survivor_digest(survivors)[0]
        # curate() hands its persisted quality corpus to release() through
        # this attribute; the pairs pass reuses the cached corpus
        quality = survivors._curate_persisted
        obs = Observation("pairs")
        with tracer.span("operators.dedup.pairs"):
            pairs = DD.lsh_candidate_pairs(quality)
            noop(pairs.observe(obs, F.count(F.lit(1)).alias("n")))
        n_quality = quality.count()
        n_pairs = obs.get["n"]
    finally:
        release(survivors)
    return {
        "plans.curate.rows.quality": n_quality,
        "plans.curate.rows.survivors": n_survivors,
        "operators.dedup.rows.pairs": n_pairs,
        "operators.dedup.drops_per_pair": (n_quality - n_survivors) / n_pairs
        if n_pairs
        else 0.0,
    }


def per_layer_metrics(
    tracer: Tracer, events: dict[str, Counter], n: int, workload: str
) -> dict[str, float]:
    """Reduce spans and event-log counters to the per-layer metric set."""
    m: dict[str, float] = {}
    cum = {name: tracer.duration(name) for name in LEDGER}
    prev = 0.0
    for name in LEDGER:
        m[f"{name}.self_s"] = cum[name] - prev
        prev = cum[name]
    m["plans.pipeline.cumulative_s"] = cum[LEDGER[-1]]
    for name in CURATE_SPANS:
        m[f"{name}.self_s"] = tracer.duration(name)

    dec = events.get("operators.decode", Counter())
    m["operators.decode.python_run_s"] = dec["python_run_ms"] / 1000
    m["operators.decode.python_bytes_sent"] = dec["python_bytes_sent"]
    m["operators.decode.python_bytes_returned"] = dec["python_bytes_returned"]
    m["operators.route.output_bytes"] = events.get("operators.route", Counter())[
        "output_bytes"
    ]
    ded = events.get("plans.curate.dedup", Counter())
    m["operators.dedup.shuffle_write_bytes"] = ded["shuffle_write_bytes"]
    m["operators.dedup.spill_bytes"] = ded["spill_bytes"]
    m["tasks_failed"] = sum(c["tasks_failed"] for c in events.values())
    m["tasks_killed"] = sum(c["tasks_killed"] for c in events.values())

    if workload == "route":
        traced_pass = cum[LEDGER[-1]]
    else:
        traced_pass = tracer.duration("plans.curate.quality") + tracer.duration(
            "plans.curate.dedup"
        )
    m["trace.items_per_s"] = n / traced_pass
    return m
