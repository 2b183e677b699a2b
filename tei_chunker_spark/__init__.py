"""tei-chunker-spark: PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the computational semantics of
dmarx/tei-chunker (GROBID TEI XML -> hierarchical chunks), built as a
one-shuffle DataFrame pipeline over tables of interleaved text+media
documents: Scan -> Project -> doc_id Exchange -> MapInPandas -> Sink, with a
checkpoint manifest for resume and per-partition lineage/metrics.
"""

__version__ = "0.1.0"

from .config import ChunkerConfig, JobConfig  # noqa: F401
from .core import Span, chunk_tei, extract_spans, parse_tei  # noqa: F401
