"""Bronze stage: raw PDF bytes → pdf_page spans (SURVEY.md §3.2 step 1).

Replaces the reference's per-request ``PdfReader`` walk
(pdf_service.py:84-102) with ONE Arrow-batched ``mapInPandas`` stage
over a staging table ``(doc_id string, content binary, filename
string)``. Per the reference's flow, validation failures don't kill the
job — they land in the ``error`` side channel (the route's 4xx becomes
an _errors row).

The PDF is parsed ONCE per document; the reference parses twice per
request (split + metadata re-read, pdf.py:150-153) — SURVEY.md §4 marks
that as the double-parse we deliberately eliminate: page spans and the
metadata record come out of the same pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.pyworker import udf_body

BRONZE_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "page_count int, file_size_bytes bigint, file_size_mb double, "
    "title string, author string, "
    "width_inches double, height_inches double, "
    "error string"
)


@udf_body
def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from n8n_tools_api_spark.refsem.pdfparse import (
        PdfParseError, get_pdf_metadata, parse_pdf_pages,
    )

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            content = bytes(content) if content is not None else b""
            try:
                pages = parse_pdf_pages(content)
                meta = get_pdf_metadata(content)
            except PdfParseError as e:
                rows.append({
                    "doc_id": doc_id, "spans": [], "page_count": 0,
                    "file_size_bytes": len(content),
                    "file_size_mb": round(len(content) / 1048576, 2),
                    "title": None, "author": None,
                    "width_inches": None, "height_inches": None,
                    "error": str(e),
                })
                continue
            dims = meta.get("page_dimensions") or {}
            rows.append({
                "doc_id": doc_id,
                "spans": [("pdf_page", text, "", i)
                          for i, text in enumerate(pages)],
                "page_count": meta["page_count"],
                "file_size_bytes": meta["file_size_bytes"],
                "file_size_mb": meta["file_size_mb"],
                "title": meta["metadata"].get("Title"),
                "author": meta["metadata"].get("Author"),
                "width_inches": dims.get("width_inches"),
                "height_inches": dims.get("height_inches"),
                "error": None,
            })
        yield pd.DataFrame(rows)


def parse_pdf_staging(staging: DataFrame) -> DataFrame:
    """(doc_id, content binary, ...) → bronze rows with pdf_page spans,
    the single-pass metadata record, and the error side channel."""
    return staging.select("doc_id", "content").mapInPandas(
        _parse_batches, schema=BRONZE_SCHEMA
    )
