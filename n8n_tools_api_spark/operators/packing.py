"""Token packing — the last stage of a pretraining data pipeline: lay
the curated corpus out as fixed-size training blocks. The classic
public recipe (GPT-2/GPT-3 style, kept by most open pipelines) is
concat-and-chunk: concatenate every document's token stream in a
deterministic corpus order, with one separator (EOS) token after each
document, then slice the stream into ``block_size``-token examples.

This operator computes the PLACEMENT MANIFEST of that layout — for
each document, where its tokens land — without materializing token
ids (tokenization happens downstream on the serving side; the manifest
is what the distributed engine contributes: a deterministic,
replayable layout):

* ``n_tokens`` — whitespace token count (repo-standard split; the
  downstream tokenizer's count can be swapped in via ``count_col``);
* documents are laid out in ascending ``doc_id`` order (the pinned
  total order — layout must not depend on partitioning);
* each document occupies ``n_tokens + 1`` stream positions (its tokens
  plus one trailing separator, the public EOS convention);
* ``start_offset`` — 0-based stream position of the document's first
  token; ``first_block`` / ``last_block`` — 0-based indices of the
  blocks containing the document's first and last token (a document
  with zero tokens sits entirely at its separator: both blocks are the
  separator's block); ``n_blocks`` — blocks spanned.

Everything is integer arithmetic over an ordered prefix sum, so DuckDB
replays it exactly (the ``token_pack_manifest`` oracle).

Scale shape: a naive ``Window.partitionBy()`` prefix sum funnels every
row through ONE task (Spark's "No Partition Defined for Window"
plan — Exchange SinglePartition). The global layout here runs the
classic two-pass distributed prefix sum instead
(:func:`_global_exclusive_prefix`): range-partition the SLIM
(doc_id, n_tokens) rows on the order key (the text column is dropped
before any exchange; counting rides the scan), compute each
partition's running sum in parallel, then add broadcast per-partition
base offsets (one tiny K-row frame, K = #partitions). Every stage is
parallel; the only global object is the K-row base table. For corpora
where per-shard layouts are acceptable (the common practical choice —
each shard becomes its own stream), pass ``shard_col``: the window
keys by shard directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.text import words
from .materialize import RoundMaterializer


def whitespace_token_count(text_col: Column) -> Column:
    """Repo-standard token count: the size of :func:`words`; NULL
    counts as zero tokens."""
    return F.size(words(text_col)).cast("bigint")


def _global_exclusive_prefix(df: DataFrame, order_cols: list[str],
                             weight: Column, out_col: str) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of ``weight`` over the total
    order ``order_cols`` (all columns ascending; the order must be
    total — callers tiebreak on a unique id).

    Two-pass scan algorithm (Blelloch): range-partition on the order
    key so partition i holds keys strictly below partition i+1, run
    the running sum per partition in parallel, then add each
    partition's base offset — the sum of all earlier partitions'
    totals, a K-row broadcast frame (K = shuffle partitions). Replaces
    the single-task ``Window.partitionBy()`` plan; every wide stage
    here is parallel and carries slim rows only.

    The range-partitioned frame is cut (operators/materialize.py) so the
    window pass and the per-partition totals see ONE materialization
    with a pinned partition-id assignment.
    """
    spark = df.sparkSession
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = 200
    ranged = df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
    part = RoundMaterializer()(
        ranged.withColumn("_pid", F.spark_partition_id()), "ranged")
    wloc = (Window.partitionBy("_pid").orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    totals = part.groupBy("_pid").agg(F.sum(weight).alias("_ptot"))
    wbase = (Window.partitionBy(F.lit(0)).orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    bases = totals.select(
        "_pid",
        F.coalesce(F.sum("_ptot").over(wbase), F.lit(0)).alias("_pbase"))
    return (
        part.withColumn("_incl", F.sum(weight).over(wloc))
        .join(F.broadcast(bases), "_pid")
        .withColumn(out_col, (F.col("_pbase") + F.col("_incl") - weight)
                    .cast("bigint"))
        .drop("_pid", "_incl", "_pbase")
    )


def token_pack(docs: DataFrame, block_size: int,
               count_col: str | None = None,
               shard_col: str | None = None) -> DataFrame:
    """Concat-and-chunk placement manifest (see module docstring).

    Output: (doc_id[, shard], n_tokens, start_offset, first_block,
    last_block, n_blocks), one row per input document. With
    ``count_col`` the caller supplies token counts (e.g. from a real
    tokenizer stage); otherwise the whitespace count is computed here.
    """
    if block_size < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")
    n_tok = (F.col(count_col).cast("bigint") if count_col
             else whitespace_token_count(F.col("text")))
    slim_cols = ["doc_id", n_tok.alias("n_tokens")]
    if shard_col:
        slim_cols.insert(1, F.col(shard_col).alias("shard"))
    slim = docs.select(*slim_cols)
    footprint = F.col("n_tokens") + 1  # tokens plus trailing separator
    if shard_col:
        w = Window.partitionBy("shard").orderBy("doc_id") \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        placed = slim.withColumn(
            "start_offset",
            (F.sum(footprint).over(w) - footprint).cast("bigint"))
    else:
        placed = _global_exclusive_prefix(
            slim, ["doc_id"], footprint, "start_offset")
    first_block = F.floor(F.col("start_offset") / block_size) \
        .cast("bigint").alias("first_block")
    # last TOKEN position: start + n_tokens - 1; empty docs sit at the
    # separator position (start_offset) instead
    last_pos = F.when(F.col("n_tokens") > 0,
                      F.col("start_offset") + F.col("n_tokens") - 1) \
        .otherwise(F.col("start_offset"))
    last_block = F.floor(last_pos / block_size).cast("bigint") \
        .alias("last_block")
    return (
        placed.withColumn("first_block", first_block)
        .withColumn("last_block", last_block)
        .withColumn(
            "n_blocks",
            (F.col("last_block") - F.col("first_block") + 1).cast("bigint"))
    )


def shard_manifest(docs: DataFrame, n_shards: int, seed: int = 7,
                   mode: str = "ranked") -> DataFrame:
    """Deterministic pre-training shard layout — the global shuffle +
    shard assignment every public pipeline runs between curation and
    packing (GPT-2's WebText, The Pile, and FineWeb all shuffle
    documents before writing training shards so no shard inherits
    crawl-order correlation): documents are permuted by an
    ENGINE-PORTABLE key — ``md5('<seed>:' || doc_id)`` (the same
    convention as :mod:`.sampling`: identical on any engine, any
    partition layout, any run) — and assigned to ``n_shards`` shards.

    Two pinned modes (both replayed exactly by the DuckDB oracle):

    * ``ranked`` (default): one global permutation — ``rank`` =
      0-based position in ``(key, doc_id)`` order (the doc_id
      tiebreak makes the order total even under an md5 collision);
      ``shard = rank % n_shards`` (round-robin — shard sizes differ
      by at most one), ``pos_in_shard = rank // n_shards``. The
      permutation runs on the same two-pass distributed prefix sum
      as :func:`token_pack` (range partition + broadcast bases — no
      single-task global window).
    * ``hashed``: the scale path — ``shard`` comes straight from the
      key (first 8 hex chars as an integer, mod ``n_shards``; no
      global order), and ``pos_in_shard`` ranks within the shard, so
      every window sorts per shard in parallel with no global
      exchange. Shard sizes are binomial around N/n_shards (the md5
      prefix is uniform) — the standard hash-partitioned layout.

    Output: (doc_id, shard, pos_in_shard), one row per input document.
    Slim columns only — text never enters the sort.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if mode not in ("ranked", "hashed"):
        raise ValueError(f"mode must be 'ranked' or 'hashed', got {mode!r}")
    key = F.md5(F.concat(
        F.lit(f"{seed}:"),
        F.coalesce(F.col("doc_id").cast("string"), F.lit(""))))
    slim = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       key.alias("skey"))
    if mode == "ranked":
        ranked = _global_exclusive_prefix(
            slim, ["skey", "doc_id"], F.lit(1).cast("bigint"), "rank")
        return ranked.select(
            "doc_id",
            (F.col("rank") % n_shards).cast("bigint").alias("shard"),
            F.floor(F.col("rank") / n_shards).cast("bigint")
            .alias("pos_in_shard"))
    shard = (F.conv(F.substring("skey", 1, 8), 16, 10).cast("bigint")
             % n_shards).cast("bigint")
    sharded = slim.withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return sharded.select(
        "doc_id", "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos_in_shard"))


def write_training_shards(docs: DataFrame, path: str, n_shards: int,
                          seed: int = 7, mode: str = "hashed",
                          fmt: str = "json") -> DataFrame:
    """Materialize the corpus as deterministic training-shard FILES —
    the sink that closes the curation → :func:`shard_manifest` →
    on-disk loop every public pipeline ends with (The Pile, FineWeb,
    and Dolma all ship shuffled shard files; training loaders consume
    shards, not a table).

    Layout: ``path/shard=K/part-*`` (``json`` lines or ``parquet``),
    each shard directory holding its documents in ``pos_in_shard``
    order with the manifest columns embedded, so a loader can stream a
    shard sequentially AND verify the order it received. File CONTENT
    is deterministic (the engine-portable manifest order — identical
    for any input layout, pinned by tests); file NAMES carry Spark
    task ids, which is the framework's contract, not a data path
    (CLAUDE.md's no-uuid rule governs data).

    Ordering guarantee: rows arrive at the writer already sorted by
    (shard, pos_in_shard), which satisfies the writer's required
    partition-column ordering, so Spark does not re-sort (a re-sort on
    the shard key alone is not stable and would scramble positions —
    the layout-invariance test would catch a regression here).

    ``shard`` and ``pos_in_shard`` are reserved output names; input
    columns with those names are overwritten. Returns the manifest
    (doc_id, shard, pos_in_shard) for lineage/resume bookkeeping.
    """
    if fmt not in ("json", "parquet"):
        raise ValueError(f"fmt must be 'json' or 'parquet', got {fmt!r}")
    man = shard_manifest(docs, n_shards, seed=seed, mode=mode)
    rows = (
        docs.drop("shard", "pos_in_shard")
        .withColumn("__sid", F.col("doc_id").cast("string"))
        .join(man.withColumnRenamed("doc_id", "__sid"), "__sid")
        .drop("__sid")
    )
    ordered = (rows.repartition(n_shards, F.col("shard"))
               .sortWithinPartitions("shard", "pos_in_shard"))
    writer = ordered.write.mode("overwrite").partitionBy("shard")
    if fmt == "json":
        writer.json(path)
    else:
        writer.parquet(path)
    return man
