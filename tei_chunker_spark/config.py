"""Job configuration for the extraction pipeline.

Mirrors the reference chunker's knobs (reference
``tei_chunker/chunking.py:60-65``) plus Spark execution knobs that have no
reference analogue.  The reference's third knob, ``min_section_size``, is
dead config there (stored at ``chunking.py:65``, never read), so it has no
counterpart here.
"""
from __future__ import annotations

from dataclasses import dataclass, field


# The reference HTTP service instantiates HierarchicalChunker(20000, 200)
# (reference service.py:17); these are the production defaults we inherit.
DEFAULT_MAX_CHUNK_SIZE = 20000
DEFAULT_OVERLAP_SIZE = 200


@dataclass(frozen=True)
class ChunkerConfig:
    """Semantics-bearing knobs. Changing these changes golden outputs."""

    max_chunk_size: int = DEFAULT_MAX_CHUNK_SIZE
    overlap_size: int = DEFAULT_OVERLAP_SIZE
    # Guardrail (None = off, golden behavior): documents whose reassembled
    # XML exceeds this many characters are NOT parsed — they emit zero text
    # spans (media passthrough unaffected) instead of risking a worker OOM.
    # The manifest's input_doc_count vs doc_count gap surfaces them.
    max_doc_chars: int | None = None


@dataclass(frozen=True)
class JobConfig:
    """Execution knobs. Changing these must NOT change outputs.

    num_buckets is the checkpoint/resume granularity of the manifest:
    bucket = pmod(xxhash64(doc_id), num_buckets).  At 100 TB / 10^12 docs
    you would raise num_buckets into the thousands so a resume skips
    completed work at fine granularity; locally small values keep test
    jobs fast.

    shuffle_partitions is the number of Python tasks per extraction stage
    (the partitions of the doc_id exchange).  In local mode it is an upper
    bound, capped at the slot count: every Python task pays a fixed worker
    set-up fee and a second round of tasks on a slot buys no parallelism
    (operators/extract.py::python_tasks).
    """

    chunker: ChunkerConfig = field(default_factory=ChunkerConfig)
    num_buckets: int = 16
    shuffle_partitions: int = 64
    input_format: str = "parquet"  # "iceberg" on a real cluster
    output_format: str = "parquet"
    # When the input table is already laid out by document (Iceberg
    # `bucket(P, doc_id)` partitioning — the recommended layout at 10^12
    # docs), the doc_id repartition is a shuffle of ~all input bytes that
    # buys nothing; set True to elide it and run the Python stage directly
    # on the scan partitions. Outputs are identical either way (pinned by
    # tests); this is purely a physical-plan decision.
    assume_bucketed_input: bool = False
