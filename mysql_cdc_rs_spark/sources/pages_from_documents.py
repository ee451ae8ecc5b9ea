"""Pages table derived deterministically from the ``documents`` testdata.

This binds the pipeline's correctness gate to the driver's own tables: every
attribute of a generated page is an md5-derived pure function of
(doc_id, source, lang, text), so the DuckDB oracle can independently predict
event types, routes, regions and the EXACT extracted text without running
any of our Python — a true cross-engine check of the whole
decode -> enrich -> route path.

Class mix (h = md5_60('cls:'||doc_id) % 100):
    h < 60  -> html          (charset in Content-Type header)
    h < 70  -> gzip_html     (same, gzip Content-Encoding)  => event 'html'
    h < 80  -> plain
    h < 90  -> redirect
    else    -> error_http (404)

tld  = TLDS8[md5_60('tld:'||doc_id) % 8]  ('gov' missing from the dimension
       table -> those rows route to errors: J1 missing-key semantics)
charset = CHARSETS4[md5_60('cs:'||doc_id) % 4]  (text is ASCII, so the
       charset round-trip is byte-exact for all four)
expected text (html):  'D{doc_id} {norm_text}'
expected text (plain): '{norm_text}'
where norm_text = whitespace-collapsed documents.text.
"""

from __future__ import annotations

import gzip
import hashlib
from datetime import timedelta

from mysql_cdc_rs_spark.sources.pages import EPOCH, PAGES_SCHEMA

TLDS8 = ["com", "org", "net", "io", "de", "fr", "edu", "gov"]
CHARSETS4 = ["utf-8", "latin1", "gbk", "windows-1252"]
_CODEC = {
    "utf-8": "utf-8",
    "latin1": "latin-1",
    "gbk": "gbk",
    "windows-1252": "cp1252",
}


def md5_60(s: str) -> int:
    """Python twin of functions.text.portable_hash60 (same md5 prefix)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# SQL twins (DuckDB) — kept next to the Python so they can't drift silently.
def md5_60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


CLS_SQL = md5_60_sql("'cls:' || doc_id") + " % 100"
_TLD_HASH_SQL = md5_60_sql("'tld:' || doc_id")
TLD_SQL = (
    "['com','org','net','io','de','fr','edu','gov']"
    f"[{_TLD_HASH_SQL} % 8 + 1]"
)
EVENT_TYPE_SQL = (
    f"CASE WHEN ({CLS_SQL}) < 70 THEN 'html' WHEN ({CLS_SQL}) < 80 THEN 'plain' "
    f"WHEN ({CLS_SQL}) < 90 THEN 'redirect' ELSE 'error_http' END"
)
NORM_TEXT_SQL = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"


def make_page(doc_id: int, text: str, lang: str, source: str):
    h = md5_60(f"cls:{doc_id}") % 100
    tld = TLDS8[md5_60(f"tld:{doc_id}") % 8]
    cs = CHARSETS4[md5_60(f"cs:{doc_id}") % 4]
    host = f"{source}.{tld}"
    url = f"https://{host}/d/{doc_id}"
    ts = EPOCH + timedelta(seconds=md5_60(f"ts:{doc_id}") % (86400 * 30))
    norm = " ".join(text.split())

    def http(status: str, headers: list[str], body: bytes) -> bytes:
        head = "\r\n".join([f"HTTP/1.1 {status}", *headers]) + "\r\n\r\n"
        return head.encode("ascii") + body

    if h < 70:  # html / gzip_html
        # Escape HTML-active chars so arbitrary document text round-trips
        # byte-identically: the kernel's entity pass inverts exactly this
        # mapping (property-tested over all printable-ASCII inputs; a raw
        # '<' would otherwise be stripped as a tag).
        esc = norm.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        body_s = (
            f'<html lang="{lang}"><head><title>D{doc_id}</title></head>'
            f"<body><p>{esc}</p></body></html>"
        )
        body = body_s.encode(_CODEC[cs], errors="replace")
        headers = [f"Content-Type: text/html; charset={cs}",
                   f"Content-Length: {len(body)}"]
        if h >= 60:
            body = gzip.compress(body, mtime=0)
            headers.append("Content-Encoding: gzip")
        raw = http("200 OK", headers, body)
        # Whitespace-only text normalizes to '' — the decoder collapses
        # whitespace, so the extracted text is just the title with NO
        # trailing space (byte-identity invariant; hypothesis-found case).
        expected = f"D{doc_id} {norm}" if norm else f"D{doc_id}"
    elif h < 80:  # plain
        body = norm.encode("utf-8")
        raw = http("200 OK",
                   ["Content-Type: text/plain; charset=utf-8",
                    f"Content-Length: {len(body)}"], body)
        expected = norm
    elif h < 90:  # redirect
        loc = f"https://moved.example/{doc_id}"
        raw = http("301 Moved Permanently",
                   [f"Location: {loc}", "Content-Type: text/html"], b"")
        expected = loc
    else:  # error_http
        raw = http("404 Not Found", ["Content-Type: text/html"],
                   b"<html>err</html>")
        expected = None

    return url, ts, raw, expected, lang


def pages_from_documents(spark, sf_dir: str):
    """documents parquet -> pages DataFrame, generated on executors."""
    import pandas as pd

    from mysql_cdc_rs_spark.sources.testdata import spread

    # spread(): the single-row-group documents file gives the scan ONE
    # task, and the whole Python page-generation + downstream decode chain
    # would inherit it (guide §2.5)
    docs = spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "source"
        )
    )

    def gen(batches):
        for pdf in batches:
            rows = [
                make_page(int(r.doc_id), r.text, r.lang, r.source)
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA)
