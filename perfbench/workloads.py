"""The benchmark's workloads: one pass each, with its output check.

A workload object holds the session, the materialised pages and a scratch
directory.  ``run_pass`` is the timed call into the package; ``check``
compares its output with the reference and is never timed.

Why these workloads:

- ``route`` is the paper's headline job: decode -> enrich -> partitioned
  route write -> per-sink counts and the aggregate passes of
  ``run_pipeline``.  It is the only workload that writes a sink and reads
  it back, and it never touches dedup.
- ``curate`` shares the decode layer with ``route`` but reads only the text
  columns, filters and caches them, and spends most of its time in the
  ``operators.dedup`` shuffles.  It writes nothing.  A decode gain should
  show on both; a change that trades shuffle or memory for decode shows
  here.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.text import words_of
from mysql_cdc_rs_spark.operators import dedup as DD
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import ROUTES
from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
from mysql_cdc_rs_spark.plans.training_pipeline import (
    DEFAULT_MIN_TOKENS,
    curate,
    release,
)
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog


def text_digest(df) -> tuple[int, int, int]:
    """(rows, xor and low-bit sum of xxhash64(url, text)) in one scan.

    Equal digests mean, with overwhelming probability, that both sides
    hold the same (url, text) rows; a missing, duplicated or changed row
    changes the digest."""
    h = F.xxhash64("url", "text")
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.bit_xor(h), F.lit(0)),
        F.coalesce(F.sum(F.pmod(h, F.lit(1 << 20))), F.lit(0)),
    ).first()
    return tuple(int(x) for x in row)


class Route:
    """``run_pipeline(pages, SinkCatalog(fresh dir), with_metrics=True,
    resume=False)``."""

    def __init__(self, spark, pages, n: int, scratch: str):
        self.spark, self.pages, self.n, self.scratch = spark, pages, n, scratch
        self.reference: dict[str, int] | None = None
        self.expected_text = text_digest(pages)
        self._k = 0

    def fresh_catalog(self) -> SinkCatalog:
        self._k += 1
        return SinkCatalog(self.spark, os.path.join(self.scratch, f"sink{self._k}"))

    def run_pass(self):
        cat = self.fresh_catalog()
        res = run_pipeline(self.pages, cat, with_metrics=True, resume=False)
        return cat, res

    def compute_reference(self) -> None:
        """Per-route counts from the in-memory plan, without the sink
        write and read-back that ``run_pipeline`` takes its counts from."""
        rows = enrich(decode_pages(self.pages)).groupBy("route").count().collect()
        self.reference = {r["route"]: r["count"] for r in rows}

    def check(self, out) -> str | None:
        cat, res = out
        try:
            counts = res.route_counts
            if sum(counts.values()) != self.n:
                return f"route counts sum to {sum(counts.values())}, not {self.n}"
            if set(counts) - set(ROUTES):
                return f"unknown routes {sorted(set(counts) - set(ROUTES))}"
            if self.reference is not None and counts != self.reference:
                return f"route counts {counts} != reference {self.reference}"
            # every input url lands exactly once, with the input's text
            got = text_digest(cat.read("routed"))
            if got != self.expected_text:
                return f"sink (url, text) digest {got} != input {self.expected_text}"
            return None
        finally:
            shutil.rmtree(cat.base, ignore_errors=True)


def survivor_digest(survivors) -> tuple[int, int, int]:
    """(count, sum of doc_id, xor of xxhash64(doc_id)) in one action."""
    row = survivors.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("doc_id"), F.lit(0)),
        F.coalesce(F.bit_xor(F.xxhash64("doc_id")), F.lit(0)),
    ).first()
    return tuple(int(x) for x in row)


def curate_reference(pages) -> tuple[int, int, int]:
    """``survivor_digest`` of ``curate(pages)`` with its default arguments,
    from a plan of its own: the same stages, written out here, with no
    persist and no count barrier."""
    textful = (
        decode_pages(pages)
        .filter(F.col("event_type").isin("html", "plain"))
        .select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
        )
    )
    quality = textful.filter(F.size(words_of(F.col("text"))) >= DEFAULT_MIN_TOKENS)
    pairs = DD.lsh_candidate_pairs(quality)
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return survivor_digest(quality.join(drops, "doc_id", "left_anti"))


class Curate:
    """``curate(pages)``, then the survivors count, then ``release()``.

    The count action also sums and xors the survivor doc_ids, so every pass
    yields a checksum at no extra pass over the data.  Every pass must give
    the same checksum as the first pass of the process, and, once it is
    computed after the warm-ups, the same as ``curate_reference``.
    """

    def __init__(self, spark, pages, n: int, scratch: str):
        self.spark, self.pages, self.n = spark, pages, n
        self.first: tuple[int, int, int] | None = None
        self.reference: tuple[int, int, int] | None = None

    def run_pass(self):
        survivors = curate(self.pages)
        try:
            return survivor_digest(survivors)
        finally:
            release(survivors)

    def compute_reference(self) -> None:
        self.reference = curate_reference(self.pages)

    def check(self, out) -> str | None:
        if self.first is None:
            self.first = out
        if out[0] <= 0:
            return "no survivors"
        if out != self.first:
            return f"survivor digest {out} != first pass {self.first}"
        if self.reference is not None and out != self.reference:
            return f"survivor digest {out} != reference {self.reference}"
        return None


WORKLOADS = {"route": Route, "curate": Curate}
