"""PDF split/merge plans as DataFrame transforms (SURVEY.md §3.1).

The reference's split/merge endpoints become *plan* tables: each request
row expands to output rows ``(req_id, out_name, page_lo, page_hi)`` (or
page-order rows for merges) with the reference's exact naming and error
messages. Everything is a pure column expression — range parsing (P1),
batch arithmetic (A3), merge orders (W3/W4) — so the entire operator is
whole-stage-codegen'd and shuffle-free up to the final ordering.

Invalid ranges follow the reference's error taxonomy
(pdf_service.py:32-65) into an ``error`` side-channel column instead of
raising — filter ``error IS NOT NULL`` into an _errors table (SURVEY.md
§2.2 P1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _range_parse_cols(range_col, total_col):
    """Column twin of refsem.pdfops.parse_page_range (pdf_service.py:32-65).

    Returns (lo, hi, error) expressions — lo/hi 1-based inclusive
    bigints, error NULL on success (reference taxonomy, check order
    preserved). Shared by split_ranges_plan and merge_ranges_plan so the
    parser logic is never forked.
    """
    r = F.trim(range_col)
    total = total_col

    is_range = r.contains("-")
    parts = F.split(r, "-", 2)
    start_str = F.trim(parts[0])
    end_str = F.trim(parts[1])
    # bigint, not int: refsem's Python int() is unbounded, and an int32
    # try_cast would misreport "99999999999999" as a FORMAT error
    # instead of out-of-range (review finding); beyond int64 the plan
    # and refsem still diverge — documented limit of the column twin
    single_num = r.try_cast("bigint")
    start_num = F.when(start_str == "", F.lit(1).cast("bigint")) \
        .otherwise(start_str.try_cast("bigint"))
    end_num = F.when(end_str == "", total.cast("bigint")) \
        .otherwise(end_str.try_cast("bigint"))

    lo = F.when(is_range, start_num).otherwise(single_num)
    hi = F.when(is_range, end_num).otherwise(single_num)

    # reference error taxonomy, in its check order (pdf_service.py:37-64)
    error = (
        F.when(~is_range & single_num.isNull(),
               F.concat(F.lit("Invalid page range format: "), r))
        .when(~is_range & ((single_num < 1) | (single_num > total)),
              F.concat(F.lit("Page "), single_num.cast("string"),
                       F.lit(" is out of range (1-"), total.cast("string"), F.lit(")")))
        .when(is_range & (start_num.isNull() | end_num.isNull()),
              F.concat(F.lit("Invalid page numbers in range: "), r))
        .when(is_range & ((start_num < 1) | (end_num < 1)),
              F.lit("Page numbers must be greater than 0"))
        .when(is_range & ((start_num > total) | (end_num > total)),
              F.concat(F.lit("Page range "), start_num.cast("string"), F.lit("-"),
                       end_num.cast("string"), F.lit(" exceeds document length ("),
                       total.cast("string"), F.lit(" pages)")))
        .when(is_range & (start_num > end_num),
              F.concat(F.lit("Invalid range: start page ("), start_num.cast("string"),
                       F.lit(") is greater than end page ("), end_num.cast("string"),
                       F.lit(")")))
    )
    return lo, hi, error


def split_ranges_plan(requests: DataFrame) -> DataFrame:
    """Expand (req_id, ranges array<string>, total_pages) into output rows.

    Parity: pdf_service.py:68-155 + _parse_page_range (:32-65). Output:
    (req_id, page_range, page_lo, page_hi, out_name, error) — page_lo/hi
    1-based inclusive, error NULL on success.
    """
    exploded = requests.select(
        "req_id", "total_pages", F.explode("ranges").alias("page_range")
    )
    lo, hi, error = _range_parse_cols(F.col("page_range"), F.col("total_pages"))

    out_name = F.when(
        lo == hi, F.concat(F.lit("page_"), lo.cast("string"), F.lit(".pdf"))
    ).otherwise(
        F.concat(F.lit("pages_"), lo.cast("string"), F.lit("-"),
                 hi.cast("string"), F.lit(".pdf"))
    )

    return exploded.select(
        "req_id", "page_range",
        F.when(error.isNull(), lo).cast("int").alias("page_lo"),
        F.when(error.isNull(), hi).cast("int").alias("page_hi"),
        F.when(error.isNull(), out_name).alias("out_name"),
        error.alias("error"),
    )


def split_batches_plan(requests: DataFrame) -> DataFrame:
    """Expand (req_id, total_pages, batch_size, filename) into batch rows.

    Parity: pdf_service.py:692-758 — ceil-division batch count, names
    ``{base}_batch_{k}_page_{p}.pdf`` / ``{base}_batch_{k}_pages_{a}-{b}.pdf``.
    """
    total = F.col("total_pages")
    bs = F.col("batch_size")
    base = F.when(
        F.col("filename").contains("."),
        F.regexp_replace("filename", r"\.[^.]*$", ""),
    ).otherwise(F.col("filename"))
    batch_count = F.ceil(total / bs).cast("int")

    # invalid requests go to the error side channel (reference taxonomy,
    # pdf_service.py:712-720) instead of silently vanishing; NULL checks
    # come first — `NULL <= 0` is NULL, which would fall through BOTH
    # branches and drop the row (review finding)
    error = (
        F.when(bs.isNull(), F.lit("Batch size must be greater than 0"))
        .when(total.isNull(), F.lit("PDF has no pages"))
        .when(bs <= 0, F.lit("Batch size must be greater than 0"))
        .when(total <= 0, F.lit("PDF has no pages"))
    )
    invalid = requests.where(error.isNotNull()).select(
        "req_id",
        F.lit(None).cast("int").alias("batch_index"),
        F.lit(None).cast("int").alias("page_lo"),
        F.lit(None).cast("int").alias("page_hi"),
        F.lit(None).cast("string").alias("out_name"),
        error.alias("error"),
    )

    exploded = (
        requests.where((bs > 0) & (total > 0))
        .select("req_id", "total_pages", "batch_size", base.alias("base"),
                F.explode(F.sequence(F.lit(0), batch_count - 1)).alias("b"))
    )
    lo = (F.col("b") * bs + 1)
    hi = F.least((F.col("b") + 1) * bs, total)
    name = F.when(
        lo == hi,
        F.concat(F.col("base"), F.lit("_batch_"), (F.col("b") + 1).cast("string"),
                 F.lit("_page_"), lo.cast("string"), F.lit(".pdf")),
    ).otherwise(
        F.concat(F.col("base"), F.lit("_batch_"), (F.col("b") + 1).cast("string"),
                 F.lit("_pages_"), lo.cast("string"), F.lit("-"), hi.cast("string"),
                 F.lit(".pdf")),
    )
    valid = exploded.select(
        "req_id", (F.col("b") + 1).cast("int").alias("batch_index"),
        lo.cast("int").alias("page_lo"), hi.cast("int").alias("page_hi"),
        name.alias("out_name"), F.lit(None).cast("string").alias("error"),
    )
    return valid.unionByName(invalid)


def merge_info_plan(requests: DataFrame) -> DataFrame:
    """Merge preview rollup (A2, pdf_service.py:622-688 get_merge_info).

    Input: (req_id, files array<struct<file_idx:int, page_count:int,
    file_size_bytes:bigint>>). Output mirrors the reference's preview:
    files_count, total_pages, total sizes, and the x0.95 compressed-size
    estimate (pdf_service.py:676).
    """
    f = (
        requests.select("req_id", F.explode("files").alias("f"))
        .select("req_id", F.col("f.page_count").alias("page_count"),
                F.col("f.file_size_bytes").alias("file_size_bytes"))
    )
    total_bytes = F.sum("file_size_bytes")
    return (
        f.groupBy("req_id")
        .agg(
            F.count("*").alias("files_count"),
            F.sum("page_count").cast("bigint").alias("total_pages"),
            total_bytes.cast("bigint").alias("total_size_bytes"),
            F.round(total_bytes / F.lit(1048576), 2).alias("total_size_mb"),
            F.round(total_bytes / F.lit(1048576) * 0.95, 2)
            .alias("estimated_merged_size_mb"),
        )
    )


def merge_plan(requests: DataFrame) -> DataFrame:
    """Output page order for merge requests.

    Input: (req_id, strategy 'append'|'interleave', files array<struct<
    file_idx:int, n_pages:int>>). Output: (req_id, out_pos, file_idx,
    page_idx) — parity with _merge_append (pdf_service.py:398-431) and
    _merge_interleave (:433-473).
    """
    pages = (
        requests.select("req_id", "strategy", F.explode("files").alias("f"))
        .select("req_id", "strategy",
                F.col("f.file_idx").alias("file_idx"),
                F.col("f.n_pages").alias("n_pages"))
        .select("req_id", "strategy", "file_idx",
                F.explode(F.sequence(F.lit(0), F.col("n_pages") - 1)).alias("page_idx"))
    )
    order_append = Window.partitionBy("req_id").orderBy("file_idx", "page_idx")
    order_inter = Window.partitionBy("req_id").orderBy("page_idx", "file_idx")
    out_pos = F.when(
        F.col("strategy") == "interleave",
        F.row_number().over(order_inter),
    ).otherwise(F.row_number().over(order_append))
    return pages.select(
        "req_id", (out_pos - 1).alias("out_pos"), "file_idx", "page_idx"
    ).orderBy("req_id", "out_pos")


def split_pages_plan(requests: DataFrame) -> DataFrame:
    """Expand (req_id, total_pages) into one row per page.

    Parity: pdf_service.py:158-232 (split_to_individual_pages) — names
    ``page_{n}.pdf``, 1-based; zero/NULL pages yield the reference's
    "PDF has no pages" error row instead of raising (refsem twin:
    refsem/pdfops.py split_pages).
    """
    total = F.col("total_pages")
    error = F.when(total.isNull() | (total <= 0), F.lit("PDF has no pages"))
    invalid = requests.where(error.isNotNull()).select(
        "req_id",
        F.lit(None).cast("int").alias("page_num"),
        F.lit(None).cast("string").alias("out_name"),
        error.alias("error"),
    )
    valid = (
        requests.where(total > 0)
        .select("req_id",
                F.explode(F.sequence(F.lit(1), total.cast("int"))).alias("page_num"))
        .select(
            "req_id", "page_num",
            F.concat(F.lit("page_"), F.col("page_num").cast("string"),
                     F.lit(".pdf")).alias("out_name"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    return valid.unionByName(invalid)


def batch_info_plan(requests: DataFrame) -> DataFrame:
    """Batch-split preview rollup — one row per request.

    Parity: pdf_service.py:760-816 (get_batch_split_info) + preview
    route pdf.py:349-465. Input: (req_id, total_pages, batch_size,
    file_size_bytes). Per-batch windows live in split_batches_plan;
    this is the scalar preview (batch_count, sizes, the ×1.1 output
    estimate). Pure projection — no shuffle.
    """
    total = F.col("total_pages")
    bs = F.col("batch_size")
    mb = F.col("file_size_bytes") / F.lit(1048576)
    # NULL checks first — `NULL <= 0` is NULL and would skip both branches
    error = (
        F.when(bs.isNull(), F.lit("Batch size must be greater than 0"))
        .when(total.isNull(), F.lit("PDF has no pages"))
        .when(bs <= 0, F.lit("Batch size must be greater than 0"))
        .when(total <= 0, F.lit("PDF has no pages"))
    )
    ok = error.isNull()
    return requests.select(
        "req_id",
        F.when(ok, total).cast("int").alias("total_pages"),
        F.when(ok, bs).cast("int").alias("batch_size"),
        F.when(ok, F.ceil(total / bs)).cast("int").alias("batch_count"),
        F.when(ok, F.col("file_size_bytes")).cast("bigint").alias("file_size_bytes"),
        F.when(ok, F.round(mb, 2)).alias("file_size_mb"),
        F.when(ok, F.round(mb * 1.1, 2)).alias("estimated_total_output_size_mb"),
        error.alias("error"),
    )


def merge_pages_plan(requests: DataFrame) -> DataFrame:
    """Output order for merges with per-file page selection (J1).

    Parity: pdf_service.py:476-546 (merge_with_page_selection) + the
    route zip at pdf.py:680 — input (req_id, files array<struct<
    n_pages:int, selected:array<int>>>), array position = zip position.
    Out-of-range pages are *skipped with a warning* (error column, NULL
    out_pos); files with empty selections vanish (explode drops them).
    Output: (req_id, file_pos, sel_pos, page_num, out_pos, error).
    Refsem twin: refsem/pdfops.py merge_pages_order.
    """
    rows = (
        requests.select("req_id", F.posexplode("files").alias("file_pos", "f"))
        .select("req_id", "file_pos", F.col("f.n_pages").alias("n_pages"),
                F.posexplode("f.selected").alias("sel_pos", "page_num"))
    )
    valid = (F.col("page_num") >= 1) & (F.col("page_num") <= F.col("n_pages"))
    error = F.when(
        ~valid,
        F.concat(F.lit("Page "), F.col("page_num").cast("string"),
                 F.lit(" is out of range for PDF "),
                 (F.col("file_pos") + 1).cast("string"),
                 F.lit(" (has "), F.col("n_pages").cast("string"),
                 F.lit(" pages). Skipping.")),
    )
    w = (
        Window.partitionBy("req_id")
        .orderBy("file_pos", "sel_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_pos = F.when(valid, F.sum(valid.cast("int")).over(w) - 1)
    return rows.select(
        "req_id", "file_pos", "sel_pos", "page_num",
        out_pos.cast("int").alias("out_pos"), error.alias("error"),
    ).orderBy("req_id", "file_pos", "sel_pos")


def merge_ranges_plan(requests: DataFrame) -> DataFrame:
    """Output order for merges with per-file range strings (J1).

    Parity: pdf_service.py:548-621 (merge_with_ranges) + route zip at
    pdf.py:769 — input (req_id, files array<struct<n_pages:int,
    ranges:array<string>>>). Invalid ranges are skipped whole with the
    reference's warning (error column, NULL page_num/out_pos); valid
    ranges expand via the shared _parse_page_range column twin.
    Output: (req_id, file_pos, range_pos, page_range, page_num,
    out_pos, error). Refsem twin: refsem/pdfops.py merge_ranges_order.
    """
    exploded = (
        requests.select("req_id", F.posexplode("files").alias("file_pos", "f"))
        .select("req_id", "file_pos", F.col("f.n_pages").alias("n_pages"),
                F.posexplode("f.ranges").alias("range_pos", "page_range"))
    )
    lo, hi, parse_err = _range_parse_cols(F.col("page_range"), F.col("n_pages"))
    error = F.when(
        parse_err.isNotNull(),
        F.concat(F.lit("Skipping invalid range '"), F.col("page_range"),
                 F.lit("' for PDF "), (F.col("file_pos") + 1).cast("string"),
                 F.lit(": "), parse_err),
    )
    # one NULL row for skipped ranges, else the 1-based page sequence
    pages = (
        exploded
        .withColumn("error", error)
        .withColumn("lo", lo.cast("int"))
        .withColumn("hi", hi.cast("int"))
        .select(
            "req_id", "file_pos", "range_pos", "page_range", "error",
            F.explode(
                F.when(F.col("error").isNotNull(),
                       F.array(F.lit(None).cast("int")))
                .otherwise(F.sequence(F.col("lo"), F.col("hi")))
            ).alias("page_num"),
        )
    )
    valid = F.col("error").isNull()
    w = (
        Window.partitionBy("req_id")
        .orderBy("file_pos", "range_pos", "page_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_pos = F.when(valid, F.sum(valid.cast("int")).over(w) - 1)
    return pages.select(
        "req_id", "file_pos", "range_pos", "page_range", "page_num",
        out_pos.cast("int").alias("out_pos"), "error",
    ).orderBy("req_id", "file_pos", "range_pos", "page_num")


# O4 request caps — the reference's validation layer as filters.
# pdf_models.py:14-19 (ranges min_items=1 / max_items=50),
# pdf_models.py:182-187 (batch_size gt=0 le=1000),
# pdf.py:525-535 (merge: ≥2 files, ≤20 files), pdf.py:142-144.
# NULL checks come first in every family: under ANSI, size(NULL) is
# NULL and `NULL < 1` is NULL, which would skip both branches and let a
# NULL array pass validation only to vanish in the downstream explode
# (review finding — same trap batch_info_plan documents)
_CAP_FAMILIES = {
    "split_ranges": lambda: (
        F.when(F.col("ranges").isNull() | (F.size("ranges") < 1),
               F.lit("No page ranges specified"))
        .when(F.size("ranges") > 50, F.lit("Maximum 50 ranges allowed"))
    ),
    "batch": lambda: (
        F.when(F.col("batch_size").isNull() | (F.col("batch_size") <= 0),
               F.lit("Batch size must be greater than 0"))
        .when(F.col("batch_size") > 1000,
              F.lit("Batch size must not exceed 1000"))
    ),
    "merge": lambda: (
        F.when(F.col("files").isNull() | (F.size("files") < 2),
               F.lit("At least 2 PDF files are required for merging"))
        .when(F.size("files") > 20,
              F.lit("Maximum 20 files allowed for merging"))
    ),
}


def enforce_request_caps(requests: DataFrame, family: str) -> DataFrame:
    """Append the O4 request-cap error column for a request family.

    The reference enforces these at the HTTP/pydantic layer before any
    PDF work happens; the batch analog is a pure-projection error
    side-channel evaluated before the plan expansion, so over-cap
    requests never explode into page rows. Families: 'split_ranges'
    (1..50 ranges), 'batch' (0 < batch_size ≤ 1000), 'merge' (2..20
    files).
    """
    if family not in _CAP_FAMILIES:
        raise ValueError(f"unknown cap family: {family!r}")
    return requests.withColumn("cap_error", _CAP_FAMILIES[family]())


def merge_selection_info(requests: DataFrame) -> DataFrame:
    """Per-request rollup of a page-selection merge.

    Parity: pdf_service.py:494-527 — files_count = len(pdf_specs),
    pages_added/pages_skipped, and the reference's "No valid pages were
    selected for merging" error when nothing survives.
    """
    plan = merge_pages_plan(requests)
    counts = plan.groupBy("req_id").agg(
        F.sum(F.col("out_pos").isNotNull().cast("int")).cast("int")
        .alias("pages_added"),
        F.sum(F.col("error").isNotNull().cast("int")).cast("int")
        .alias("pages_skipped"),
    )
    base = requests.select("req_id", F.size("files").alias("files_count"))
    joined = base.join(counts, "req_id", "left")
    added = F.coalesce(F.col("pages_added"), F.lit(0))
    return joined.select(
        "req_id", "files_count",
        added.cast("int").alias("pages_added"),
        F.coalesce(F.col("pages_skipped"), F.lit(0)).cast("int")
        .alias("pages_skipped"),
        F.when(added == 0, F.lit("No valid pages were selected for merging"))
        .alias("error"),
    )
