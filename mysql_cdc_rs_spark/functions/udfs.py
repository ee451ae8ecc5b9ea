"""The package's one Python boundary: every UDF and row map, on Arrow.

Everything that runs Python over Spark rows goes through this module, and
batches cross the JVM<->Python boundary as Arrow buffers only — no pandas
conversion on either side:

- ``map_rows`` — the row map (``mapInArrow``): a per-row rule that returns
  zero or more output tuples, typed by a DDL schema.  Each output batch is
  built one column at a time straight from the rule's tuples.
- ``make_decode_udf`` / ``with_decoded`` — the page decode (``arrow_udf``):
  ``decode_batch``'s column lists become one ``pa.StructArray``.
- ``jsonb_decode_udf`` / ``jsonb_path_udf`` — the JSONB kernels
  (``arrow_udf``).

Hot-path rule (BASELINE.json input_hint): NO per-row Python outside these
Arrow-batched calls.  Each call receives one Arrow batch (bounded by
spark.sql.execution.arrow.maxRecordsPerBatch) and applies the kernel per
element inside the batch — the Spark-side cost model is identical to the
reference's per-event decode loop
(/root/reference/binlog/src/decoder/event_decoder.rs:153-360).

Errors NEVER raise: they surface in the ``error`` struct field and are
filtered to the error route (mirrors the reference's skip-don't-crash
policy, /root/reference/binlog/src/decoder/event_decoder.rs:310-330).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
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
_DECODED_ARROW = list(to_arrow_type(DECODED_SCHEMA))


def _arrays(columns, fields) -> list[pa.Array]:
    """Python value lists -> Arrow arrays, one per field, typed by it."""
    return [pa.array(c, type=f.type) for c, f in zip(columns, fields)]


def map_rows(df, fn, schema: str):
    """Apply the row rule ``fn`` to every row of ``df`` (``mapInArrow``).

    ``fn(*row)`` gets the row's values in ``df.columns`` order as plain
    Python values (None for null) and returns an iterable of zero or more
    output tuples in the field order of ``schema``, a DDL string.
    """
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    empty = [()] * len(arrow_schema)

    def run(batches):
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns]
            out = [t for row in zip(*cols) for t in fn(*row)]
            yield pa.RecordBatch.from_arrays(
                _arrays(zip(*out) if out else empty, arrow_schema),
                schema=arrow_schema,
            )

    return df.mapInArrow(run, schema=struct)


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

    @arrow_udf(DECODED_SCHEMA)
    def _decode(html: pa.Array) -> pa.Array:
        from mysql_cdc_rs_spark.kernel import registry as _r

        _r._MIME_DECODERS.update(mime_decoders)  # noqa: SLF001
        _r._ROUTE_OVERRIDES.update(route_overrides)  # noqa: SLF001
        # fused batch loop (kernel/batchdecode.py): byte-identical to
        # [decode_page(b) for b in html]; its 13 column lists become the
        # struct's children directly
        cols = decode_batch(html.to_pylist(), mime_decoders)
        return pa.StructArray.from_arrays(
            _arrays([cols[f.name] for f in _DECODED_ARROW], _DECODED_ARROW),
            fields=_DECODED_ARROW,
        )

    # asNondeterministic stops the optimizer pushing filters on decoded
    # columns BELOW the projection, which duplicated the whole decode as a
    # second ArrowEvalPython node (every filtered pipeline paid the UDF
    # twice per row: pipeline_text_md5, curate's event_type gate).  The
    # function itself is pure; the flag only pins its evaluation count.
    return _decode.asNondeterministic()


@arrow_udf(StringType())
def jsonb_decode_udf(payload: pa.Array) -> pa.Array:
    """MySQL-JSONB binary -> canonical JSON string (kernel C13)."""
    out = []
    for b in payload.to_pylist():
        if b is None:
            out.append(None)
            continue
        try:
            out.append(_jsonb.canonical_json(_jsonb.parse_jsonb(b)))
        except Exception:
            out.append(None)
    return pa.array(out, type=pa.string())


@arrow_udf(StringType())
def jsonb_path_udf(payload: pa.Array, path: pa.Array) -> pa.Array:
    """extract_by_path over JSONB binary (kernel C14)."""
    out = []
    for b, p in zip(payload.to_pylist(), path.to_pylist()):
        if b is None or p is None:
            out.append(None)
            continue
        try:
            v = _jsonb.extract_by_path(_jsonb.parse_jsonb(b), p)
            out.append(None if v is None else _jsonb.canonical_json(v))
        except Exception:
            out.append(None)
    return pa.array(out, type=pa.string())


def with_decoded(df, html_col: str = "html", out_col: str = "decoded"):
    """Attach the decoded struct — the pipeline's single wide projection.

    One UDF call per row batch; downstream stages select struct fields so
    Catalyst prunes what they don't use.  The UDF is built at plan time so
    extensions registered by then ship with it.
    """
    return df.withColumn(out_col, make_decode_udf()(F.col(html_col)))
