"""Arrow-vectorized pandas UDFs wrapping the pure-Python kernel.

Hot-path rule (BASELINE.json input_hint): NO per-row Python outside these
Arrow-batched UDFs.  Each UDF receives a pandas Series per Arrow batch
(bounded by spark.sql.execution.arrow.maxRecordsPerBatch) and applies the
kernel per element inside the batch — the Spark-side cost model is identical
to the reference's per-event decode loop
(/root/reference/binlog/src/decoder/event_decoder.rs:153-360), but batches
move JVM<->Python as Arrow buffers, not pickled rows.

Errors NEVER raise: they surface in the ``error`` struct field and are
filtered to the error route (mirrors the reference's skip-don't-crash
policy, /root/reference/binlog/src/decoder/event_decoder.rs:310-330).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from mysql_cdc_rs_spark.kernel import jsonb as _jsonb
from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch

DECODED_FIELDS = [
    ("status", IntegerType()),
    ("mime", StringType()),
    ("charset", StringType()),
    ("charset_source", StringType()),
    ("content_encoding", StringType()),
    ("header_len", IntegerType()),
    ("body_len", IntegerType()),
    ("text", StringType()),
    ("title", StringType()),
    ("event_type", StringType()),
    ("route", StringType()),
    ("error", StringType()),
    # full header map (status-vars analog, P6); downstream stages that don't
    # select it get it pruned by Catalyst for free
    ("headers", MapType(StringType(), StringType())),
]
DECODED_SCHEMA = StructType([StructField(n, t, True) for n, t in DECODED_FIELDS])


def make_decode_udf():
    """Build the decode UDF, snapshotting the extension registries.

    Executors run separate Python workers, so driver-side
    ``register_mime_decoder`` calls would otherwise be invisible there.
    Capturing the registry dicts in the closure makes cloudpickle ship the
    registered functions BY VALUE with the UDF — the Spark analog of the
    reference handing its decoder registry to each reader thread
    (/root/reference/binlog/src/decoder/event_decoder_registry.rs:65-140).
    """
    from mysql_cdc_rs_spark.kernel import registry as _reg

    mime_decoders = dict(_reg._MIME_DECODERS)  # noqa: SLF001
    route_overrides = dict(_reg._ROUTE_OVERRIDES)  # noqa: SLF001

    @pandas_udf(DECODED_SCHEMA)
    def _decode(html: pd.Series) -> pd.DataFrame:
        from mysql_cdc_rs_spark.kernel import registry as _r

        _r._MIME_DECODERS.update(mime_decoders)  # noqa: SLF001
        _r._ROUTE_OVERRIDES.update(route_overrides)  # noqa: SLF001
        # fused batch loop (kernel/batchdecode.py): byte-identical to
        # [decode_page(b) for b in html] but +28% single-thread — column
        # lists feed pandas->Arrow without a list-of-dicts detour
        return pd.DataFrame(decode_batch(html, mime_decoders))

    # asNondeterministic stops the optimizer pushing filters on decoded
    # columns BELOW the projection, which duplicated the whole decode as a
    # second ArrowEvalPython node (every filtered pipeline paid the UDF
    # twice per row: pipeline_text_md5, curate's event_type gate).  The
    # function itself is pure; the flag only pins its evaluation count.
    return _decode.asNondeterministic()


@pandas_udf(StringType())
def jsonb_decode_udf(payload: pd.Series) -> pd.Series:
    """MySQL-JSONB binary -> canonical JSON string (kernel C13)."""
    out = []
    for b in payload:
        if b is None:
            out.append(None)
            continue
        try:
            out.append(_jsonb.canonical_json(_jsonb.parse_jsonb(bytes(b))))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(StringType())
def jsonb_path_udf(payload: pd.Series, path: pd.Series) -> pd.Series:
    """extract_by_path over JSONB binary (kernel C14)."""
    out = []
    for b, p in zip(payload, path):
        if b is None or p is None:
            out.append(None)
            continue
        try:
            v = _jsonb.extract_by_path(_jsonb.parse_jsonb(bytes(b)), str(p))
            out.append(None if v is None else _jsonb.canonical_json(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


def with_decoded(df, html_col: str = "html", out_col: str = "decoded"):
    """Attach the decoded struct — the pipeline's single wide projection.

    One UDF call per row batch; downstream stages select struct fields so
    Catalyst prunes what they don't use.  The UDF is built at plan time so
    extensions registered by then ship with it.
    """
    return df.withColumn(out_col, make_decode_udf()(F.col(html_col)))
