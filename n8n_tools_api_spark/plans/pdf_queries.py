"""Oracle-backed PDF-plan queries (SURVEY.md §2.2 P1-P3, §2.3 J1, §2.4
A2-A3, §2.6 naming).

Each query runs a pdf_plans operator over a deterministic request set —
either derived from the documents parquet (so the distributed path is
exercised) or the reference's own route-docstring matrices — and the
oracle replays the exact arithmetic/error taxonomy in DuckDB SQL
(unnest + generate_subscripts + window cumsum). This upgrades the whole
split/merge family from rows-only to hash-matched.

DuckDB twins of the range parser emulate Spark's limit-2 split via
strpos/substr (so ``1--3`` parses to ('1','-3') on both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared literal matrices (Spark createDataFrame ↔ SQL VALUES)
# ---------------------------------------------------------------------------

# split_ranges test matrix — mirrors reference tests/unit/test_pdf_service.py
SPLIT_REQS = [
    ("r1", ["1-3", "5", "7-9"], 10),
    ("r2", ["-3", "8-"], 10),
    ("r3", ["0", "15", "7-3", "a-b", "1--3"], 10),
    ("r4", ["1-10"], 10),
]

# merge-with-page-selection matrix — the route docstring example
# (pdf.py:656 "[[1,2,3], [1,5,6], [2,4]]") + skip cases
MERGE_PAGES_REQS = [
    ("m1", [(3, [1, 2, 3]), (6, [1, 5, 6]), (4, [2, 4])]),
    ("m2", [(5, []), (2, [0, 3, 1])]),
    ("m3", [(2, [9, 0])]),  # nothing survives → info error row
]

# merge-with-ranges matrix — valid, skipped-whole, open-ended, malformed
MERGE_RANGES_REQS = [
    ("m1", [(10, ["1-3", "5"]), (4, ["7-9", "2"])]),
    ("m2", [(6, ["-2", "5-", "a-b"]), (3, [])]),
]


def _split_reqs_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        SPLIT_REQS, "req_id string, ranges array<string>, total_pages int"
    )


def _merge_pages_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        MERGE_PAGES_REQS,
        "req_id string, files array<struct<n_pages:int,selected:array<int>>>",
    )


def _merge_ranges_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        MERGE_RANGES_REQS,
        "req_id string, files array<struct<n_pages:int,ranges:array<string>>>",
    )


def _doc_reqs(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """Deterministic request rows derived from the documents table
    (doc_id < 40) — single-sourced so the three table-derived oracle
    queries can't drift from their SQL twins independently."""
    from .catalog import _t

    return _t(spark, sf_dir, "documents", below=40).select(
        F.col("doc_id").alias("req_id"), *cols
    )


# SQL fragments -------------------------------------------------------------

_SPLIT_VALUES = """
  VALUES ('r1', ['1-3','5','7-9'], 10),
         ('r2', ['-3','8-'], 10),
         ('r3', ['0','15','7-3','a-b','1--3'], 10),
         ('r4', ['1-10'], 10)
"""

_MERGE_PAGES_VALUES = """
  VALUES ('m1', [{'n_pages': 3, 'selected': [1,2,3]},
                 {'n_pages': 6, 'selected': [1,5,6]},
                 {'n_pages': 4, 'selected': [2,4]}]),
         ('m2', [{'n_pages': 5, 'selected': CAST([] AS INT[])},
                 {'n_pages': 2, 'selected': [0,3,1]}]),
         ('m3', [{'n_pages': 2, 'selected': [9,0]}])
"""

_MERGE_RANGES_VALUES = """
  VALUES ('m1', [{'n_pages': 10, 'ranges': ['1-3','5']},
                 {'n_pages': 4, 'ranges': ['7-9','2']}]),
         ('m2', [{'n_pages': 6, 'ranges': ['-2','5-','a-b']},
                 {'n_pages': 3, 'ranges': CAST([] AS VARCHAR[])}])
"""

# DuckDB twin of _range_parse_cols (pdf_plans.py) / refsem parse_page_range:
# expects columns page_range + a total-pages column named in `total`.
def _parse_sql(total: str) -> str:
    return f"""
    trim(page_range) AS t,
    contains(trim(page_range), '-') AS is_range,
    trim(CASE WHEN contains(trim(page_range), '-')
         THEN substr(trim(page_range), 1, strpos(trim(page_range), '-') - 1)
         END) AS p0,
    trim(CASE WHEN contains(trim(page_range), '-')
         THEN substr(trim(page_range), strpos(trim(page_range), '-') + 1)
         END) AS p1,
    try_cast(trim(page_range) AS BIGINT) AS single_num,
    CASE WHEN p0 = '' THEN 1 ELSE try_cast(p0 AS BIGINT) END AS start_num,
    CASE WHEN p1 = '' THEN CAST({total} AS BIGINT)
         ELSE try_cast(p1 AS BIGINT) END AS end_num,
    CASE WHEN is_range THEN start_num ELSE single_num END AS lo,
    CASE WHEN is_range THEN end_num ELSE single_num END AS hi,
    CASE
      WHEN NOT is_range AND single_num IS NULL
        THEN 'Invalid page range format: ' || t
      WHEN NOT is_range AND (single_num < 1 OR single_num > {total})
        THEN 'Page ' || single_num || ' is out of range (1-' || {total} || ')'
      WHEN is_range AND (start_num IS NULL OR end_num IS NULL)
        THEN 'Invalid page numbers in range: ' || t
      WHEN is_range AND (start_num < 1 OR end_num < 1)
        THEN 'Page numbers must be greater than 0'
      WHEN is_range AND (start_num > {total} OR end_num > {total})
        THEN 'Page range ' || start_num || '-' || end_num ||
             ' exceeds document length (' || {total} || ' pages)'
      WHEN is_range AND start_num > end_num
        THEN 'Invalid range: start page (' || start_num ||
             ') is greater than end page (' || end_num || ')'
    END AS error
    """


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def pdf_split_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-split plan (P1/P3) over the reference unit-test matrix —
    oracle-backed: the DuckDB twin replays the parse + error taxonomy."""
    from n8n_tools_api_spark.operators.pdf_plans import split_ranges_plan

    return split_ranges_plan(_split_reqs_df(spark)).orderBy("req_id", "page_range")


PDF_SPLIT_SQL = f"""
WITH requests(req_id, ranges, total_pages) AS ({_SPLIT_VALUES}),
exploded AS (
  SELECT req_id, total_pages, unnest(ranges) AS page_range FROM requests
),
parsed AS (
  SELECT req_id, total_pages, page_range, {_parse_sql('total_pages')}
  FROM exploded
)
SELECT req_id, page_range,
       CAST(CASE WHEN error IS NULL THEN lo END AS INT) AS page_lo,
       CAST(CASE WHEN error IS NULL THEN hi END AS INT) AS page_hi,
       CASE WHEN error IS NOT NULL THEN NULL
            WHEN lo = hi THEN 'page_' || lo || '.pdf'
            ELSE 'pages_' || lo || '-' || hi || '.pdf' END AS out_name,
       error
FROM parsed
ORDER BY req_id, page_range
"""


def pdf_page_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual-page split plan (pdf_service.py:158-232) over requests
    derived from the documents table (doc_id % 7 pages; the %7==0 rows
    exercise the "PDF has no pages" channel)."""
    from n8n_tools_api_spark.operators.pdf_plans import split_pages_plan

    reqs = _doc_reqs(spark, sf_dir,
                     (F.col("doc_id") % 7).cast("int").alias("total_pages"))
    return split_pages_plan(reqs).orderBy("req_id", "page_num")


PDF_PAGE_PLANS_SQL = """
WITH reqs AS (
  SELECT doc_id AS req_id, CAST(doc_id % 7 AS INT) AS total_pages
  FROM documents WHERE doc_id < 40
),
valid AS (
  SELECT req_id, CAST(unnest(generate_series(1, total_pages)) AS INT) AS page_num
  FROM reqs WHERE total_pages > 0
)
SELECT req_id, page_num,
       'page_' || page_num || '.pdf' AS out_name,
       CAST(NULL AS VARCHAR) AS error
FROM valid
UNION ALL
SELECT req_id, CAST(NULL AS INT), CAST(NULL AS VARCHAR), 'PDF has no pages'
FROM reqs WHERE total_pages <= 0
ORDER BY req_id, page_num
"""


def pdf_batch_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-split window plan (A3, pdf_service.py:692-758) over requests
    derived from the documents table."""
    from n8n_tools_api_spark.operators.pdf_plans import split_batches_plan

    reqs = _doc_reqs(
        spark, sf_dir,
        (1 + F.col("doc_id") % 12).cast("int").alias("total_pages"),
        (1 + F.col("doc_id") % 4).cast("int").alias("batch_size"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"),
                 F.lit(".archive.pdf")).alias("filename"),
    )
    return split_batches_plan(reqs).orderBy("req_id", "batch_index")


PDF_BATCH_PLANS_SQL = """
WITH reqs AS (
  SELECT doc_id AS req_id,
         CAST(1 + doc_id % 12 AS INT) AS total_pages,
         CAST(1 + doc_id % 4 AS INT) AS batch_size,
         'doc_' || doc_id || '.archive' AS base
  FROM documents WHERE doc_id < 40
),
batches AS (
  SELECT req_id, total_pages, batch_size, base,
         CAST(unnest(generate_series(0,
              CAST(ceil(total_pages / CAST(batch_size AS DOUBLE)) AS INT) - 1))
              AS INT) AS b
  FROM reqs
)
SELECT req_id,
       CAST(b + 1 AS INT) AS batch_index,
       CAST(b * batch_size + 1 AS INT) AS page_lo,
       CAST(least((b + 1) * batch_size, total_pages) AS INT) AS page_hi,
       CASE WHEN b * batch_size + 1 = least((b + 1) * batch_size, total_pages)
            THEN base || '_batch_' || (b + 1) || '_page_' ||
                 (b * batch_size + 1) || '.pdf'
            ELSE base || '_batch_' || (b + 1) || '_pages_' ||
                 (b * batch_size + 1) || '-' ||
                 least((b + 1) * batch_size, total_pages) || '.pdf'
       END AS out_name,
       CAST(NULL AS VARCHAR) AS error
FROM batches
ORDER BY req_id, batch_index
"""


def pdf_batch_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-split preview rollup (pdf_service.py:760-816) over requests
    derived from the documents table. Sizes are 3 MiB multiples so the
    round(x, 2) twin can't hit a half-even/half-up midpoint."""
    from n8n_tools_api_spark.operators.pdf_plans import batch_info_plan

    reqs = _doc_reqs(
        spark, sf_dir,
        (1 + F.col("doc_id") % 12).cast("int").alias("total_pages"),
        (1 + F.col("doc_id") % 4).cast("int").alias("batch_size"),
        ((1 + F.col("doc_id")) * 3145728).cast("bigint").alias("file_size_bytes"),
    )
    return batch_info_plan(reqs).orderBy("req_id")


PDF_BATCH_INFO_SQL = """
WITH reqs AS (
  SELECT doc_id AS req_id,
         CAST(1 + doc_id % 12 AS INT) AS total_pages,
         CAST(1 + doc_id % 4 AS INT) AS batch_size,
         CAST((1 + doc_id) * 3145728 AS BIGINT) AS file_size_bytes
  FROM documents WHERE doc_id < 40
)
SELECT req_id, total_pages, batch_size,
       CAST(ceil(total_pages / CAST(batch_size AS DOUBLE)) AS INT) AS batch_count,
       file_size_bytes,
       round(file_size_bytes / 1048576.0, 2) AS file_size_mb,
       round(file_size_bytes / 1048576.0 * 1.1, 2)
         AS estimated_total_output_size_mb,
       CAST(NULL AS VARCHAR) AS error
FROM reqs
ORDER BY req_id
"""


def pdf_merge_pages_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge with page selection (J1, pdf_service.py:476-546) over the
    route-docstring matrix — oracle replays the zip + skip semantics."""
    from n8n_tools_api_spark.operators.pdf_plans import merge_pages_plan

    return merge_pages_plan(_merge_pages_df(spark)) \
        .orderBy("req_id", "file_pos", "sel_pos")


PDF_MERGE_PAGES_SQL = f"""
WITH requests(req_id, files) AS ({_MERGE_PAGES_VALUES}),
files AS (
  SELECT req_id,
         CAST(generate_subscripts(files, 1) - 1 AS INT) AS file_pos,
         unnest(files) AS f
  FROM requests
),
sel AS (
  SELECT req_id, file_pos, f.n_pages AS n_pages,
         CAST(generate_subscripts(f.selected, 1) - 1 AS INT) AS sel_pos,
         unnest(f.selected) AS page_num
  FROM files
)
SELECT req_id, file_pos, sel_pos, page_num,
       CAST(CASE WHEN page_num BETWEEN 1 AND n_pages THEN
         SUM(CASE WHEN page_num BETWEEN 1 AND n_pages THEN 1 ELSE 0 END)
           OVER (PARTITION BY req_id ORDER BY file_pos, sel_pos
                 ROWS UNBOUNDED PRECEDING) - 1
       END AS INT) AS out_pos,
       CASE WHEN page_num NOT BETWEEN 1 AND n_pages THEN
         'Page ' || page_num || ' is out of range for PDF ' || (file_pos + 1)
         || ' (has ' || n_pages || ' pages). Skipping.'
       END AS error
FROM sel
ORDER BY req_id, file_pos, sel_pos
"""


def pdf_merge_ranges_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge with range strings (J1, pdf_service.py:548-621) — invalid
    ranges skipped whole with the reference's warning."""
    from n8n_tools_api_spark.operators.pdf_plans import merge_ranges_plan

    return merge_ranges_plan(_merge_ranges_df(spark)) \
        .orderBy("req_id", "file_pos", "range_pos", "page_num")


PDF_MERGE_RANGES_SQL = f"""
WITH requests(req_id, files) AS ({_MERGE_RANGES_VALUES}),
files AS (
  SELECT req_id,
         CAST(generate_subscripts(files, 1) - 1 AS INT) AS file_pos,
         unnest(files) AS f
  FROM requests
),
ranges AS (
  SELECT req_id, file_pos, f.n_pages AS n_pages,
         CAST(generate_subscripts(f.ranges, 1) - 1 AS INT) AS range_pos,
         unnest(f.ranges) AS page_range
  FROM files
),
parsed AS (
  SELECT req_id, file_pos, range_pos, page_range, n_pages,
         {_parse_sql('n_pages')}
  FROM ranges
),
wrapped AS (
  SELECT req_id, file_pos, range_pos, page_range, lo, hi,
         CASE WHEN error IS NOT NULL THEN
           'Skipping invalid range ''' || page_range || ''' for PDF ' ||
           (file_pos + 1) || ': ' || error
         END AS error
  FROM parsed
),
pages AS (
  SELECT req_id, file_pos, range_pos, page_range, error,
         CAST(unnest(CASE WHEN error IS NOT NULL THEN [NULL]
                          ELSE generate_series(lo, hi) END) AS INT) AS page_num
  FROM wrapped
)
SELECT req_id, file_pos, range_pos, page_range, page_num,
       CAST(CASE WHEN error IS NULL THEN
         SUM(CASE WHEN error IS NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY req_id
                 ORDER BY file_pos, range_pos, page_num
                 ROWS UNBOUNDED PRECEDING) - 1
       END AS INT) AS out_pos,
       error
FROM pages
ORDER BY req_id, file_pos, range_pos, page_num
"""


def pdf_merge_selection_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-request merge-selection rollup incl. the reference's
    "No valid pages were selected for merging" error (pdf_service.py:525)."""
    from n8n_tools_api_spark.operators.pdf_plans import merge_selection_info

    return merge_selection_info(_merge_pages_df(spark)).orderBy("req_id")


PDF_MERGE_INFO_SQL = f"""
WITH requests(req_id, files) AS ({_MERGE_PAGES_VALUES}),
files AS (
  SELECT req_id, len(files) AS files_count, unnest(files) AS f
  FROM requests
),
sel AS (
  SELECT req_id, files_count, f.n_pages AS n_pages,
         unnest(f.selected) AS page_num
  FROM files
),
counts AS (
  SELECT req_id,
         CAST(max(files_count) AS INT) AS files_count,
         CAST(SUM(CASE WHEN page_num BETWEEN 1 AND n_pages THEN 1 ELSE 0 END)
              AS INT) AS pages_added,
         CAST(SUM(CASE WHEN page_num BETWEEN 1 AND n_pages THEN 0 ELSE 1 END)
              AS INT) AS pages_skipped
  FROM sel GROUP BY req_id
)
SELECT r.req_id,
       CAST(len(r.files) AS INT) AS files_count,
       COALESCE(c.pages_added, 0) AS pages_added,
       COALESCE(c.pages_skipped, 0) AS pages_skipped,
       CASE WHEN COALESCE(c.pages_added, 0) = 0
            THEN 'No valid pages were selected for merging' END AS error
FROM requests r LEFT JOIN counts c ON r.req_id = c.req_id
ORDER BY r.req_id
"""


def pdf_request_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 request-cap validation (pdf_models.py:14-19,182-187 +
    pdf.py:525-535) over a matrix that hits every boundary: empty/1/50/
    51 ranges, batch 0/1/1000/1001, merge 1/2/20/21 files."""
    from n8n_tools_api_spark.operators.pdf_plans import enforce_request_caps

    ranges_reqs = spark.createDataFrame(
        [("r_empty", []), ("r_1", ["1"]), ("r_50", [str(i) for i in range(1, 51)]),
         ("r_51", [str(i) for i in range(1, 52)]), ("r_null", None)],
        "req_id string, ranges array<string>",
    )
    batch_reqs = spark.createDataFrame(
        [("b_0", 0), ("b_1", 1), ("b_1000", 1000), ("b_1001", 1001),
         ("b_null", None)],
        "req_id string, batch_size int",
    )
    merge_reqs = spark.createDataFrame(
        [("m_1", 1), ("m_2", 2), ("m_20", 20), ("m_21", 21), ("m_null", None)],
        "req_id string, n int",
    ).select("req_id", F.transform(F.sequence(F.lit(1), F.col("n")),
                                   lambda i: i).alias("files"))
    out = (
        enforce_request_caps(ranges_reqs, "split_ranges")
        .select("req_id", F.lit("split_ranges").alias("family"), "cap_error")
        .unionByName(
            enforce_request_caps(batch_reqs, "batch")
            .select("req_id", F.lit("batch").alias("family"), "cap_error"))
        .unionByName(
            enforce_request_caps(merge_reqs, "merge")
            .select("req_id", F.lit("merge").alias("family"), "cap_error"))
    )
    return out.orderBy("family", "req_id")


PDF_REQUEST_CAPS_SQL = """
WITH ranges_reqs(req_id, n_ranges) AS (
  VALUES ('r_empty', 0), ('r_1', 1), ('r_50', 50), ('r_51', 51),
         ('r_null', NULL)
),
batch_reqs(req_id, batch_size) AS (
  VALUES ('b_0', 0), ('b_1', 1), ('b_1000', 1000), ('b_1001', 1001),
         ('b_null', NULL)
),
merge_reqs(req_id, n_files) AS (
  VALUES ('m_1', 1), ('m_2', 2), ('m_20', 20), ('m_21', 21),
         ('m_null', NULL)
)
SELECT req_id, 'split_ranges' AS family,
       CASE WHEN n_ranges IS NULL OR n_ranges < 1
              THEN 'No page ranges specified'
            WHEN n_ranges > 50 THEN 'Maximum 50 ranges allowed'
       END AS cap_error
FROM ranges_reqs
UNION ALL
SELECT req_id, 'batch',
       CASE WHEN batch_size IS NULL OR batch_size <= 0
              THEN 'Batch size must be greater than 0'
            WHEN batch_size > 1000 THEN 'Batch size must not exceed 1000'
       END
FROM batch_reqs
UNION ALL
SELECT req_id, 'merge',
       CASE WHEN n_files IS NULL OR n_files < 2
              THEN 'At least 2 PDF files are required for merging'
            WHEN n_files > 20 THEN 'Maximum 20 files allowed for merging'
       END
FROM merge_reqs
ORDER BY family, req_id
"""


PDF_ORACLE_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "pdf_split_plans": (pdf_split_plans, PDF_SPLIT_SQL),
    "pdf_page_plans": (pdf_page_plans, PDF_PAGE_PLANS_SQL),
    "pdf_batch_plans": (pdf_batch_plans, PDF_BATCH_PLANS_SQL),
    "pdf_batch_info": (pdf_batch_info, PDF_BATCH_INFO_SQL),
    "pdf_merge_pages_plan": (pdf_merge_pages_plan, PDF_MERGE_PAGES_SQL),
    "pdf_merge_ranges_plan": (pdf_merge_ranges_plan, PDF_MERGE_RANGES_SQL),
    "pdf_merge_selection_info": (pdf_merge_selection_info, PDF_MERGE_INFO_SQL),
    "pdf_request_caps": (pdf_request_caps, PDF_REQUEST_CAPS_SQL),
}
