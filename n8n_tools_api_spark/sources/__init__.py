from .synthetic import (
    CANONICAL_PNG_B64,
    CANONICAL_JPEG_B64,
    CANONICAL_GIF_B64,
    generate_documents_interleaved,
    generate_bench_doc,
    bench_corpus,
    interleaved_df,
    interleaved_from_documents_table,
    SPANS_SCHEMA,
    INTERLEAVED_SCHEMA,
)
from .tables import TABLES

__all__ = [
    "CANONICAL_PNG_B64",
    "CANONICAL_JPEG_B64",
    "CANONICAL_GIF_B64",
    "generate_documents_interleaved",
    "generate_bench_doc",
    "bench_corpus",
    "interleaved_df",
    "interleaved_from_documents_table",
    "SPANS_SCHEMA",
    "INTERLEAVED_SCHEMA",
    "TABLES",
]
