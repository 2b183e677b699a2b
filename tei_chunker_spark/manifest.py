"""Checkpoint manifest: per-bucket lineage + metrics, resumable runner.

The reference has no persistence at all (its "sink" is one JSON HTTP
response, reference service.py:32-55); at 10^12 documents the job must
instead survive restarts.  Design:

* every document maps to a stable **bucket** = ``pmod(xxhash64(doc_id),
  num_buckets)``, the resume granularity.  It selects which documents a
  wave reads, and the wave's exchange gives each Python task a
  contiguous run of the wave's buckets
  (``operators/extract.py::wave_partition_id``), so the write below
  stays near one file per task.
* output is written ``partitionBy("bucket")`` with dynamic partition
  overwrite, so re-processing a bucket is idempotent (no dupes).
* the manifest is an append-only table ``(job_id, bucket, status,
  input_doc_count, doc_count, span_count, wall_ms, attempt,
  lineage_json)``; the current state of a bucket is the row with the
  highest attempt.  Append-only means a crashed writer can never corrupt
  history, and lineage keeps every attempt auditable — failed attempts
  included (``status='failed'``, error class in the lineage).
* the runner reads the manifest ONCE per call (completed buckets and the
  last attempt number in one aggregate) and processes the remaining
  buckets in **waves**.  Each wave is one Spark write filtered to
  ``bucket IN (wave)`` plus one manifest append; the per-bucket counts
  are ``DataFrame.observe`` metrics of that write, not extra passes.  A
  kill between waves loses at most the in-flight wave.  On a
  1000-executor cluster you'd size num_buckets in the thousands and waves
  to a few minutes of work each.
"""
from __future__ import annotations

import json
import logging
import time
from typing import List, Optional, Sequence, Set, Tuple

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import JobConfig
from .operators.extract import bucket_column, chunk_stage, shuffled_reassembly
from .sources.session import ARROW_MAX_RECORDS_PER_BATCH

_log = logging.getLogger(__name__)

MANIFEST_SCHEMA_DDL = (
    "job_id string, bucket int, status string, input_doc_count long, "
    "doc_count long, span_count long, wall_ms long, attempt int, lineage_json string"
)


def read_manifest(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """The manifest table, or None when ``path`` does not exist yet (first
    run).  Any other read error propagates: treating, say, a transient
    listing failure as "no manifest" would restart the job at attempt 1
    and reprocess every bucket."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA_DDL).parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _manifest_state(spark: SparkSession, path: str, job_id: str) -> Tuple[Set[int], int]:
    """One manifest read: (buckets whose latest attempt is 'done', highest
    attempt recorded for ``job_id``; 0 when none)."""
    m = read_manifest(spark, path)
    if m is None:
        return set(), 0
    rows = (
        m.filter(F.col("job_id") == job_id)
        .groupBy("bucket")
        .agg(
            F.max_by("status", "attempt").alias("status"),
            F.max("attempt").alias("attempt"),
        )
        .collect()
    )
    done = {r.bucket for r in rows if r.status == "done"}
    return done, max((r.attempt for r in rows), default=0)


def completed_buckets(spark: SparkSession, path: str, job_id: str) -> List[int]:
    """Buckets whose latest attempt is 'done'."""
    return sorted(_manifest_state(spark, path, job_id)[0])


def append_manifest(spark: SparkSession, path: str, rows: Sequence[dict]) -> None:
    # pandas in, so the session's Arrow path builds the rows in the JVM
    # (a list of dicts would pickle through a Python-worker task).
    spark.createDataFrame(pd.DataFrame(list(rows)), MANIFEST_SCHEMA_DDL).coalesce(
        1
    ).write.mode("append").parquet(path)


def _count_per_bucket(
    wave: Sequence[int], prefix: str, bucket: Column, cond: Optional[Column] = None
) -> List[Column]:
    """One ``count_if`` per wave bucket, named ``{prefix}{bucket}``."""
    return [
        F.count_if(bucket == b if cond is None else cond & (bucket == b)).alias(f"{prefix}{b}")
        for b in wave
    ]


def _observed_wave(
    input_df: DataFrame, wave: Sequence[int], job: JobConfig
) -> Tuple[DataFrame, Observation, Observation]:
    """The spans one wave writes (documents filtered to ``bucket IN (wave)``,
    extracted, tagged with ``bucket``) plus its two per-bucket observations:
    ``in{b}`` on the reassembled input rows, ``spans{b}`` / ``docs{b}`` on
    the output spans.

    Input-side accounting: a malformed document emits zero spans, so
    without ``in{b}`` a doc can vanish silently — the judge of "no gaps" at
    10^12 docs is input_doc_count vs doc_count per bucket.  Both
    observations sit above the wave's exchange, in the write's result stage:
    Spark merges a result task's metrics once per partition, ignoring
    retries and speculative copies, where a shuffle-map stage would
    re-apply them on resubmission (plan shape pinned by
    tests/test_plans.py)."""
    bucket = bucket_column(job.num_buckets)
    seen, emitted = Observation(), Observation()
    docs = shuffled_reassembly(input_df.filter(bucket.isin(list(wave))), job, wave).observe(
        seen, *_count_per_bucket(wave, "in", bucket)
    )
    out_bucket = F.col("bucket")
    spans = (
        chunk_stage(docs, job.chunker)
        .withColumn("bucket", bucket)
        .observe(
            emitted,
            *_count_per_bucket(wave, "spans", out_bucket),
            *_count_per_bucket(wave, "docs", out_bucket, F.col("offset") == 0),
        )
    )
    return spans, seen, emitted


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    job: JobConfig,
    job_id: str = "job",
    wave_size: int = 8,
    fail_after_waves: Optional[int] = None,
) -> None:
    """Process all pending buckets in waves; idempotent under restart.

    ``output_path`` must be unique per ``job_id``: dynamic partition
    overwrite is keyed on bucket only — two jobs sharing one output
    directory would clobber each other's partitions.

    Per-bucket counts are observations on the wave's write itself (see
    :func:`_observed_wave`), exact and with no extra pass over the data:
    ``input_doc_count`` counts the reassembled input rows, ``span_count`` the written span rows, and
    ``doc_count`` the written rows with ``offset = 0`` — every document
    that emits any span emits exactly one.  ``doc_count`` therefore counts
    rows the same way ``input_doc_count`` does, and equals the number of
    distinct written ``doc_id``s whenever input ``doc_id``s are unique.

    If a wave's write raises, its buckets get ``status='failed'`` rows
    (error class in ``lineage_json``) and the original error is re-raised.

    ``fail_after_waves`` injects a crash after N completed waves (tests
    only; records no failed rows).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    nb = job.num_buckets
    done, last_attempt = _manifest_state(spark, manifest_path, job_id)
    pending = [b for b in range(nb) if b not in done]
    if not pending:
        return
    # Monotonic per-job attempt number (NOT wall-clock derived: an epoch
    # modulo would wrap and make max_by('status','attempt') resolve a stale
    # row as latest).
    attempt = last_attempt + 1

    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH)
    )
    input_df = spark.read.format(job.input_format).load(input_path)

    def manifest_rows(wave, status, wall_ms, counts, **extra):
        lineage = json.dumps(
            {
                "input": input_path,
                "num_buckets": nb,
                "wave": wave,
                "chunker": {
                    "max_chunk_size": job.chunker.max_chunk_size,
                    "overlap_size": job.chunker.overlap_size,
                },
                **extra,
            }
        )
        return [
            {
                "job_id": job_id,
                "bucket": b,
                "status": status,
                "input_doc_count": counts.get(f"in{b}"),
                "doc_count": counts.get(f"docs{b}"),
                "span_count": counts.get(f"spans{b}"),
                "wall_ms": wall_ms,
                "attempt": attempt,
                "lineage_json": lineage,
            }
            for b in wave
        ]

    for wave_idx in range(0, len(pending), wave_size):
        wave = pending[wave_idx : wave_idx + wave_size]
        t0 = time.time()
        spans, seen, emitted = _observed_wave(input_df, wave, job)
        try:
            spans.write.mode("overwrite").partitionBy("bucket").format(
                job.output_format
            ).save(output_path)
        except Exception as exc:
            rows = manifest_rows(
                wave, "failed", int((time.time() - t0) * 1000), {},
                error=type(exc).__name__,
            )
            try:
                append_manifest(spark, manifest_path, rows)
            except Exception:
                _log.exception("could not record failed attempt %d of %s", attempt, job_id)
            raise
        wall_ms = int((time.time() - t0) * 1000)
        append_manifest(
            spark,
            manifest_path,
            manifest_rows(wave, "done", wall_ms, {**seen.get, **emitted.get}),
        )
        if fail_after_waves is not None and wave_idx // wave_size + 1 >= fail_after_waves:
            raise RuntimeError("injected failure after wave (test hook)")
