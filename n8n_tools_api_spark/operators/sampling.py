"""Deterministic stratified mixture sampling — the training-mix
construction stage of the public LLM-data canon (The Pile, Gao et al.
2020 weights sources by epochs; Llama/FineWeb/RedPajama publish
per-source mixture proportions; CCNet downsamples by language bucket).
Given per-stratum keep rates, downsample each stratum REPRODUCIBLY:
the same (seed, doc_id) decides the same way on any engine, any
partition layout, any run.

The sampling key is engine-portable by construction: a row is kept
iff the first 8 hex chars of ``md5('<seed>:' || doc_id)`` compare
lexicographically below an 8-hex-digit threshold ``floor(rate*2^32)``.
Lowercase-hex string order IS numeric order for equal-length strings,
so Spark and DuckDB (and any engine with md5) agree bit-for-bit with
no integer conversion anywhere — no overflow, no signedness, no
float rounding. ``rate=1.0`` uses the sentinel threshold ``'g'``
(greater than every hex char) and keeps everything; ``rate=0.0``
keeps nothing. P(keep) is exactly ``floor(rate*2^32)/2^32`` under the
uniformity of md5.

Scale shape: the threshold lookup is a literal CASE over the (small,
curated) rates map and the key is a per-row projection — the sampler
itself is zero-shuffle and rides the parquet scan at 100 TB; the
report's only exchange is the per-stratum rollup (map-side combined,
#strata rows). NULL doc_ids key on the empty string (documented, so
re-runs stay deterministic); NULL strata fall to ``default_rate``
like any unlisted stratum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

KEEP_ALL_THRESHOLD = "g"   # sorts above every lowercase hex digit


def sample_threshold_hex(rate: float) -> str:
    """8-hex-digit keep threshold for ``rate`` (see module docstring)."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return KEEP_ALL_THRESHOLD
    # float rounding can push rate*2^32 to exactly 2^32 for rates just
    # under 1.0 (e.g. 1 - 2^-53), which would format as NINE hex digits
    # and break the equal-length lexicographic-order invariant — clamp
    # to the largest 8-digit threshold (keeps all but ~1/2^32)
    return format(min(int(rate * 2 ** 32), 2 ** 32 - 1), "08x")


def sample_key(id_col: Column, seed: int) -> Column:
    """The row's 8-hex-char sampling key — md5 prefix of 'seed:id'."""
    return F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"),
                       F.coalesce(id_col.cast("string"), F.lit("")))),
        1, 8)


def _threshold_col(strata: Column, rates: dict[str, float],
                   default_rate: float) -> Column:
    thr = F.lit(sample_threshold_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(strata == stratum,
                     F.lit(sample_threshold_hex(rate))).otherwise(thr)
    return thr


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      seed: int = 42,
                      default_rate: float = 1.0) -> DataFrame:
    """Keep each row of ``docs`` with the rate of its ``lang`` stratum,
    keyed on ``doc_id`` — all input columns pass through unchanged;
    rows are never duplicated."""
    keep = sample_key(F.col("doc_id"), seed) < \
        _threshold_col(F.col("lang"), rates, default_rate)
    return docs.where(keep)


def mixture_report(docs: DataFrame, rates: dict[str, float],
                   seed: int = 42,
                   default_rate: float = 1.0) -> DataFrame:
    """Per-stratum audit of the sample the same parameters would keep:
    (stratum, threshold, n_docs, n_kept, realized_rate) — the mixture
    sheet a training run records next to its data config."""
    strata = F.col("lang")
    kept = (sample_key(F.col("doc_id"), seed) <
            _threshold_col(strata, rates, default_rate)).cast("int")
    return (
        docs.select(strata.alias("stratum"), kept.alias("_kept"))
        .groupBy("stratum")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_kept").cast("bigint").alias("n_kept"),
        )
        .select(
            "stratum",
            _threshold_col(F.col("stratum"), rates, default_rate)
            .alias("threshold"),
            "n_docs", "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 6)
            .alias("realized_rate"),
        )
    )
