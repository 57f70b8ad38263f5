"""Incremental ingest — Trigger.AvailableNow over the same transforms.

The reference has no streaming semantics (SURVEY.md §2.9): its only
"stream" is HTTP chunking of completed bytes. The engine is therefore
batch-first, but new document landings are incremental in production —
this wrapper runs the identical extraction transform as a Structured
Streaming job with ``Trigger.AvailableNow``: it processes exactly the
files not yet seen by the checkpoint and then stops. Re-running after
new files land processes only the delta — file-granular exactly-once
via the streaming checkpoint, complementing the bucket-granular batch
resume in operators/lineage.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from n8n_tools_api_spark.operators.extract import extract_spans
from n8n_tools_api_spark.sources.synthetic import INTERLEAVED_SCHEMA


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Extract all not-yet-processed parquet files under ``input_dir``.

    Blocks until the available data is drained, then returns. The
    transform is the same ``extract_spans`` mapInPandas stage as batch —
    one code path, two execution modes.
    """
    stream = spark.readStream.schema(INTERLEAVED_SCHEMA).parquet(input_dir)
    query = (
        extract_spans(stream)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
