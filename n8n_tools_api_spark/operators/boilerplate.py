"""Boilerplate-strip stage — HTML pages → main-content text.

The scoring heuristic itself (tag tree walk, link-char ratio, tag
density — the north_rule DOM operator) lives in
:mod:`n8n_tools_api_spark.refsem.boilerplate`; this module is the Spark
seam: one Arrow-batched ``mapInPandas`` over (passthrough…, html) rows
emitting the same passthrough columns plus ``main_text``. A NARROW map
— no shuffle, no fat column survives into downstream wide stages (the
html column is dropped inside the stage), so at 10^12 pages the stage
rides the scan exactly like extraction does (operators/extract.py).

The reference service has no HTML stripper (SURVEY.md §2.10); the
heuristic spec and goldens are our own (refsem/boilerplate.py
docstring).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.pyworker import udf_body


def strip_boilerplate_stage(pages: DataFrame,
                            html_col: str = "html") -> DataFrame:
    """Apply the DOM-heuristic stripper to every page.

    Input: any DataFrame with a string ``html_col``. Output: the other
    columns unchanged plus ``main_text`` (kept-block text joined with
    blank lines; '' for fully-boilerplate or NULL pages).
    """
    out_fields = [f for f in pages.schema.fields if f.name != html_col]
    schema = StructType(out_fields + [StructField("main_text", StringType())])

    @udf_body
    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported inside the task so spark-submit --py-files ships one zip
        from n8n_tools_api_spark.refsem import strip_boilerplate

        for pdf in batches:
            html = pdf[html_col].fillna("")
            out = pdf.drop(columns=[html_col])
            out["main_text"] = [strip_boilerplate(h) for h in html]
            yield out

    return pages.mapInPandas(_batches, schema=schema)
