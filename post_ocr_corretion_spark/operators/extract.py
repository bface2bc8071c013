"""Main-content extraction operator (north rule): Arrow-batched
mapInPandas over ``html:binary``, calling the SAME core/extraction.py code
the parity oracle uses — per-url byte-identity by construction, verified
by tests.

Column pruning matters here more than anywhere (never deserialize html
when only text is needed — SURVEY.md §4): the operator selects exactly the
columns it consumes, so a downstream projection prunes the parquet scan.
Per-batch counters (pages, html bytes, extracted chars, pdf stubs) feed
the lineage table (io/snapshots.py).

Every Arrow-batched body that extracts — ``extract``, ``render_and_extract``
and the flagship's fused stage (operators/correction.render_extract_correct)
— builds its rows with ``extract_row`` and its batches with ``columnar``.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..core.extraction import extract_document
from ..datagen.webpages import make_page

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [T.StructField("start", T.LongType(), False), T.StructField("end", T.LongType(), False)]
                )
            ),
            False,
        ),
        T.StructField("html_bytes", T.LongType(), False),
    ]
)


def extract_row(url, warc_ts, lang, doc_id, html: bytes | None) -> tuple:
    """One page → one EXTRACT_SCHEMA row, as a tuple in field order.  A
    null ``html`` is an empty page (see core/extraction.py)."""
    html = html or b""
    text, sp, kind = extract_document(html)
    return (url, warc_ts, lang, doc_id, kind, text, [{"start": s, "end": e} for s, e in sp], len(html))


def render_extract_row(doc_id, text: str, lang: str) -> tuple:
    """Synthetic render (datagen/webpages.make_page) + ``extract_row``."""
    doc_id = int(doc_id)
    page = make_page(doc_id, text, lang)
    return extract_row(page["url"], page["warc_ts"], page["lang"], doc_id, page["html"])


def columnar(rows: list[tuple], schema: T.StructType) -> pd.DataFrame:
    """Row tuples → one pandas batch built column-wise (dict-of-lists, not
    row dicts), which keeps the pandas→Arrow conversion cheap."""
    cols = zip(*rows) if rows else [()] * len(schema.fields)
    return pd.DataFrame({f.name: list(c) for f, c in zip(schema.fields, cols)})


def extract(pages: DataFrame) -> DataFrame:
    cols = ["url", "warc_ts", "lang", "html"]
    if "doc_id" in pages.columns:
        cols.append("doc_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"] if "doc_id" in pdf.columns else [None] * len(pdf)
            rows = [
                extract_row(u, ts, lg, i, None if h is None else bytes(h))
                for u, ts, lg, i, h in zip(pdf["url"], pdf["warc_ts"], pdf["lang"], ids, pdf["html"])
            ]
            yield columnar(rows, EXTRACT_SCHEMA)

    return pages.select(*cols).mapInPandas(run, EXTRACT_SCHEMA)


def render_and_extract(docs: DataFrame) -> DataFrame:
    """Fused synthetic-render + extract in ONE Arrow-batched stage.

    Composing sources/webpages.webpages with extract() ships every page's
    html bytes JVM→Python→JVM→Python; since both ends are per-row pure
    functions, fusing them removes the largest Arrow transfer of the
    pipeline (the html column) entirely. Output is identical to
    ``extract(webpages(docs))`` — tests assert it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [render_extract_row(*r) for r in zip(pdf["doc_id"], pdf["text"], pdf["lang"])]
            yield columnar(rows, EXTRACT_SCHEMA)

    return docs.select("doc_id", "text", "lang").mapInPandas(run, EXTRACT_SCHEMA)
