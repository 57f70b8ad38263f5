"""Deterministic synthetic corpus generator (FIXTURES.md §1 profile).

Seeded ``random.Random`` only — no wall clock, no uuid — so every run,
every parallelism level, and every golden fixture sees the identical
corpus (TESTDATA.md-style determinism). Profile per FIXTURES.md §1:

* 80% text-only docs, 1-8 spans (kinds text/html/pdf_page);
* 15% mixed docs, 3-20 spans, 1-5 image spans;
* 5% media-heavy skew docs, 30-50 image spans (the image_limit=50 cap
  world, mistral_service.py:297-302) — these drive the skew/salting
  story at scale;
* html spans embed nav/footer link farms (boilerplate-stripper food);
* pdf_page spans carry markdown headers (some docs trip the >5000-char
  TOC path), OCR artifacts ('wordWord', '123abc', ' .') exercising the
  cleaning regexes, and ``![alt](img-N.jpeg)`` refs on image-less docs;
* offsets are strictly increasing but the span *array order* is
  shuffled on ~30% of docs to prove re-sorting (W5).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..functions.pyworker import udf_body

# The reference's canonical test images:
# 1x1 PNG — mistral_service.py:924, tests/utils/test_ocr_response_formatter.py:45
CANONICAL_PNG_B64 = (
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAC"
    "hAFfqlNNwgAAAABJRU5ErkJggg=="
)
# 1x1 JPEG — tests/utils/test_ocr_response_formatter.py:66
CANONICAL_JPEG_B64 = (
    "/9j/4AAQSkZJRgABAQEAYABgAAD/2wBDAAEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEB"
    "AQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQH/2wBDAQEBAQEBAQEBAQEB"
    "AQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQH/"
    "wAARCAABAAEDASIAAhEBAxEB/8QAFQABAQAAAAAAAAAAAAAAAAAAAAv/xAAUEAEAAAAA"
    "AAAAAAAAAAAAAAAA/8QAFQEBAQAAAAAAAAAAAAAAAAAAAAX/xAAUEQEAAAAAAAAAAAAA"
    "AAAAAAAA/9oADAMBAAIRAxEAPwA/AA=="
)
# 1x1 GIF — tests/utils/test_ocr_response_formatter.py:78
CANONICAL_GIF_B64 = "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"

_IMAGES = [CANONICAL_PNG_B64, CANONICAL_JPEG_B64, CANONICAL_GIF_B64]
# too small to pass the >50-byte gate (formatter variant, P7)
_TINY_B64 = "aGVsbG8="  # "hello"

_WORDS = (
    "the quick brown fox jumps over lazy dog data span table query page "
    "engine batch shuffle column vector stream merge split range golden "
    "offset media text image parse clean score detect sample corpus "
    "partition cluster scale rain light stone river cloud metric value"
).split()

SPANS_SCHEMA = ArrayType(StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]))

INTERLEAVED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", SPANS_SCHEMA),
])


def _sentence(rng: random.Random) -> str:
    n = rng.randint(4, 12)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    s = " ".join(words)
    # OCR artifacts for the cleaning regexes (F1)
    r = rng.random()
    if r < 0.15:
        s = s.replace(" ", "", 1)  # 'thequick' — camel-adjacent merge
        i = rng.randint(0, len(s) - 1)
        s = s[:i] + s[i].upper() + s[i + 1:]
    elif r < 0.25:
        s += f" {rng.randint(1, 999)}abc"
    if rng.random() < 0.2:
        s += " ."
    else:
        s += "."
    return s


def _paragraph(rng: random.Random, sentences: int | None = None) -> str:
    n = sentences or rng.randint(2, 6)
    return " ".join(_sentence(rng) for _ in range(n))


def _html_span(rng: random.Random) -> str:
    main = _paragraph(rng)
    links = "".join(
        f'<a href="/{rng.choice(_WORDS)}">{rng.choice(_WORDS)}</a> '
        for _ in range(rng.randint(4, 10))
    )
    return (
        "<html><body>"
        f"<nav>{links}</nav>"
        f"<div><p>{main}</p></div>"
        f"<div class=\"linkfarm\">{links}</div>"
        f"<footer>{links}</footer>"
        "</body></html>"
    )


def _pdf_page_span(rng: random.Random, with_headers: bool, big: bool,
                   image_ref: int | None) -> str:
    parts = []
    n_paras = rng.randint(8, 12) if big else rng.randint(1, 4)
    for i in range(n_paras):
        if with_headers and (big or rng.random() < 0.4):
            level = "#" * rng.randint(1, 3)
            parts.append(f"{level} {rng.choice(_WORDS).capitalize()} {rng.choice(_WORDS)}")
        parts.append(_paragraph(rng, sentences=8 if big else None))
    if image_ref is not None:
        parts.append(f"![figure {image_ref}](img-{image_ref}.jpeg)")
    return "\n\n".join(parts)


def _gen_doc_spans(rng: random.Random) -> list[dict]:
    """One document's spans from an rng stream (profile above)."""
    roll = rng.random()
    spans: list[dict] = []

    def add(kind: str, text: str) -> None:
        spans.append({"kind": kind, "text": text, "media_ref": ""})

    if True:
        if roll < 0.80:  # text-only
            n_spans = rng.randint(1, 8)
            toc_doc = rng.random() < 0.08
            n_pdf = 0
            for _ in range(n_spans):
                k = rng.random()
                if k < 0.45:
                    add("text", _paragraph(rng))
                elif k < 0.70:
                    add("html", _html_span(rng))
                else:
                    n_pdf += 1
                    ref = n_pdf if rng.random() < 0.25 else None
                    add("pdf_page", _pdf_page_span(rng, True, toc_doc, ref))
        elif roll < 0.95:  # mixed
            n_spans = rng.randint(3, 20)
            n_images = rng.randint(1, 5)
            n_pdf = 0
            for _ in range(max(n_spans - n_images, 1)):
                k = rng.random()
                if k < 0.4:
                    add("text", _paragraph(rng))
                elif k < 0.6:
                    add("html", _html_span(rng))
                else:
                    n_pdf += 1
                    add("pdf_page", _pdf_page_span(rng, True, False, None))
            for _ in range(n_images):
                r = rng.random()
                if r < 0.7:
                    add("image", rng.choice(_IMAGES))
                elif r < 0.85:
                    add("image", _TINY_B64)
                else:
                    add("image", f"photo of a {rng.choice(_WORDS)}")
        else:  # media-heavy skew docs
            add("pdf_page", _pdf_page_span(rng, True, False, None))
            for _ in range(rng.randint(30, 50)):
                add("image", rng.choice(_IMAGES))

        # strictly-increasing offsets over the logical order…
        off = 0
        for s in spans:
            s["offset"] = off
            off += rng.randint(1, 3)
        # …then shuffle the array order on ~30% of docs (W5 re-sort test)
        if rng.random() < 0.30:
            rng.shuffle(spans)
    return spans


def generate_documents_interleaved(n_docs: int, seed: int = 42) -> list[tuple[str, list[dict]]]:
    """The golden-fixture corpus: ONE sequential rng stream (seed=42),
    so fixtures are stable regardless of how many docs a test asks for
    a prefix of."""
    rng = random.Random(seed)
    return [(f"doc_{d:06d}", _gen_doc_spans(rng)) for d in range(n_docs)]


def generate_bench_doc(doc_idx: int, seed: int = 42) -> list[dict]:
    """Per-document independently-seeded generation for the *bench*
    corpus: rng depends only on (seed, doc_idx), so generation can run
    distributed across any number of partitions and still be
    deterministic (TESTDATA.md-style)."""
    rng = random.Random((seed << 32) ^ (doc_idx * 0x9E3779B97F4A7C15 & 0x7FFFFFFF))
    return _gen_doc_spans(rng)


def interleaved_df(spark: SparkSession, n_docs: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    """The synthetic corpus as a DataFrame with the input_hint schema.

    Rows are distributed via parallelize of the *generated* data at test
    scale; at production scale this table is an Iceberg scan, so the
    generator is only the fixture path.
    """
    rows = [
        (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for doc_id, spans in generate_documents_interleaved(n_docs, seed)
    ]
    df = spark.createDataFrame(rows, INTERLEAVED_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "doc_id")
    return df


def bench_corpus(spark: SparkSession, n_docs: int, seed: int = 42,
                 partitions: int | None = None,
                 cache_dir: str = "/tmp/spark_graft_bench") -> DataFrame:
    """Distributed deterministic bench corpus, cached as parquet.

    Generation is a narrow mapInPandas over ``spark.range`` (per-doc
    seeding — see generate_bench_doc), parallel across all cores; the
    parquet cache keys on (n_docs, seed) so repeated bench runs skip
    generation entirely and both parallelism levels read the SAME bytes.
    """
    import os

    path = f"{cache_dir}/corpus_n{n_docs}_s{seed}.parquet"
    if not os.path.exists(f"{path}/_SUCCESS"):
        import pandas as pd

        @udf_body
        def gen(batches):
            for pdf in batches:
                ids, spans = [], []
                for idx in pdf["id"]:
                    idx = int(idx)
                    ids.append(f"bdoc_{idx:08d}")
                    spans.append([
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in generate_bench_doc(idx, seed)
                    ])
                yield pd.DataFrame({"doc_id": ids, "spans": spans})

        # many small files on purpose: the bench corpus is tiny compared
        # to a real Iceberg table, and file-granular splits are what let
        # a local[32] run actually use 32 cores (pair with a reduced
        # spark.sql.files.maxPartitionBytes when reading)
        n_gen_parts = partitions or max((os.cpu_count() or 8) * 8, 256)
        (
            spark.range(0, n_docs, numPartitions=n_gen_parts)
            .mapInPandas(gen, schema=INTERLEAVED_SCHEMA)
            .write.mode("overwrite").parquet(path)
        )
    return spark.read.parquet(path)


def interleaved_from_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the driver's documents.parquet as single-span interleaved docs.

    Pure column expressions (no UDF, no shuffle): each text row becomes a
    one-span document, so driver oracles can cross-check span-level
    aggregates against the same corpus (FIXTURES.md §1 note).
    """
    from n8n_tools_api_spark.sources.tables import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("tdoc_"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
