"""Service-health scoring — the A9/O3 weighted health model.

Parity: the reference computes a weighted health score over its
last-hour metrics window (`app/utils/error_metrics.py:421-458`
``get_health_score``), a 5-tier status, and a fixed-priority
recommendation list (`app/utils/error_metrics.py:460-520`
``_generate_health_recommendations``) served with the list sliced to
its first three entries (`app/api/routes/ocr.py:225`
``recommendations[:3]``). In batch-land the "window" generalizes to any
grouping of an operations log, so this operator is a groupBy + pure
column math — every arithmetic step keeps the reference's exact
expression order so a DuckDB replay is bit-identical:

* ``error_rate_score = max(0, 100 - error_rate * 500)``
* ``latency_score    = max(0, 100 - avg_ms / 100)``
* ``volume_score     = min(100, total_requests * 2)`` (0 when empty)
* ``health_score     = ers*0.5 + ls*0.3 + vs*0.2`` (left-assoc)
* status tiers on the UNROUNDED score: >=90 excellent / >=75 good /
  >=50 fair / >=25 poor / else critical (error_metrics.py:437-448)
* recommendations in the reference's fixed emission order
  (error_metrics.py:464-482): high error rate (>0.1), slow processing
  (avg > 15000 ms), low volume (<10), critical score (<50),
  authentication failures present, file-size errors present; the
  normal-operation fallback fires only when nothing else did
  (error_metrics.py:484-485); then the route's ``[:3]`` slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Recommendation strings, verbatim (error_metrics.py:464-485)
REC_HIGH_ERROR_RATE = (
    "High error rate detected - review error logs and fix common issues")
REC_SLOW_PROCESSING = (
    "Slow processing times - consider optimizing document processing")
REC_LOW_VOLUME = (
    "Low request volume - verify service availability and monitoring")
REC_CRITICAL_SCORE = (
    "Critical health score - immediate investigation required")
REC_AUTH_FAILURES = (
    "Authentication failures detected - verify API key configuration")
REC_FILE_TOO_LARGE = (
    "File size errors - consider implementing better size validation")
REC_NORMAL = "System operating normally - continue monitoring"

_AUTH_CODE = "API_AUTHENTICATION_FAILED"
_TOO_LARGE_CODE = "FILE_TOO_LARGE"


def health_rollup(metrics: DataFrame) -> DataFrame:
    """Weighted health score per ``svc_group`` of an operations log.

    Input rows: one per operation, with ``error_code`` (NULL for a
    success — mirrors record_success vs ErrorMetric entries,
    error_metrics.py:150-176) and ``processing_time_ms`` (double;
    integer-valued inputs keep the double sums exact and therefore
    order-independent, which is what makes the DuckDB replay exact).

    Output: one row per group with the metrics-summary fields the
    health endpoint serves (ocr.py:296-308 rounding: error_rate 4dp,
    avg ms 2dp), the three component scores and the weighted score
    (1dp, error_metrics.py:452-456), the 5-tier status, and the
    route's top-3 recommendation slice as rec_1..rec_3 (NULL-padded).
    Pure column math over one map-side-combined groupBy — no UDF, no
    extra shuffle beyond the aggregate; scales linearly in log size.
    """
    agg = metrics.groupBy("svc_group").agg(
        F.count("*").alias("total_requests"),
        F.count("error_code").alias("total_errors"),
        F.sum("processing_time_ms").alias("_sum_ms"),
        F.sum(F.when(F.col("error_code") == _AUTH_CODE, 1).otherwise(0))
        .alias("_n_auth"),
        F.sum(F.when(F.col("error_code") == _TOO_LARGE_CODE, 1).otherwise(0))
        .alias("_n_too_large"),
    )
    rated = agg.select(
        "svc_group", "total_requests", "total_errors", "_n_auth",
        "_n_too_large",
        (F.col("total_errors").cast("double") / F.col("total_requests"))
        .alias("_error_rate"),
        (F.col("_sum_ms").cast("double") / F.col("total_requests"))
        .alias("_avg_ms"),
    )
    ers = F.greatest(F.lit(0.0),
                     F.lit(100.0) - F.col("_error_rate") * F.lit(500.0))
    ls = F.greatest(F.lit(0.0),
                    F.lit(100.0) - F.col("_avg_ms") / F.lit(100.0))
    vs = F.when(
        F.col("total_requests") > 0,
        F.least(F.lit(100.0),
                (F.col("total_requests") * 2).cast("double")),
    ).otherwise(F.lit(0.0))
    scored = rated.select(
        "svc_group", "total_requests", "total_errors", "_n_auth",
        "_n_too_large", "_error_rate", "_avg_ms",
        ers.alias("_ers"), ls.alias("_ls"), vs.alias("_vs"),
        (ers * F.lit(0.5) + ls * F.lit(0.3) + vs * F.lit(0.2))
        .alias("_health"),
    )
    recs = F.filter(
        F.array(
            F.when(F.col("_error_rate") > 0.1, F.lit(REC_HIGH_ERROR_RATE)),
            F.when(F.col("_avg_ms") > 15000, F.lit(REC_SLOW_PROCESSING)),
            F.when(F.col("total_requests") < 10, F.lit(REC_LOW_VOLUME)),
            F.when(F.col("_health") < 50, F.lit(REC_CRITICAL_SCORE)),
            F.when(F.col("_n_auth") > 0, F.lit(REC_AUTH_FAILURES)),
            F.when(F.col("_n_too_large") > 0, F.lit(REC_FILE_TOO_LARGE)),
        ),
        lambda x: x.isNotNull(),
    )
    recs = F.when(F.size(recs) == 0, F.array(F.lit(REC_NORMAL))).otherwise(recs)
    status = (
        F.when(F.col("_health") >= 90, "excellent")
        .when(F.col("_health") >= 75, "good")
        .when(F.col("_health") >= 50, "fair")
        .when(F.col("_health") >= 25, "poor")
        .otherwise("critical")
    )
    return scored.select(
        "svc_group",
        "total_requests",
        "total_errors",
        F.round("_error_rate", 4).alias("error_rate"),
        F.round(F.lit(1.0) - F.col("_error_rate"), 4).alias("success_rate"),
        F.round("_avg_ms", 2).alias("avg_processing_time_ms"),
        F.round("_ers", 1).alias("error_rate_score"),
        F.round("_ls", 1).alias("latency_score"),
        F.round("_vs", 1).alias("volume_score"),
        F.round("_health", 1).alias("health_score"),
        status.alias("status"),
        F.try_element_at(recs, F.lit(1)).alias("rec_1"),
        F.try_element_at(recs, F.lit(2)).alias("rec_2"),
        F.try_element_at(recs, F.lit(3)).alias("rec_3"),
    )


def health_from_lineage(lineage: DataFrame) -> DataFrame:
    """Health rollup over the extraction lineage table (one run = one
    "service window"): each committed bucket is one operation, a
    zero-document bucket commit counts as a failed operation
    (``EMPTY_BUCKET``), and ``wall_ms`` is its processing time. Gives
    a resumable 100-TB run the same health/status/recommendation
    surface the reference serves at /ocr/health.
    """
    ops = lineage.select(
        F.col("run_id").alias("svc_group"),
        F.when(F.col("doc_count") == 0, F.lit("EMPTY_BUCKET"))
        .otherwise(F.lit(None).cast("string")).alias("error_code"),
        F.col("wall_ms").cast("double").alias("processing_time_ms"),
    )
    return health_rollup(ops) \
        .withColumnRenamed("svc_group", "run_id")
