"""Checkpoint/resume tests: kill after a wave, rerun, assert no duplicate
and no missing spans vs a single-shot run (BASELINE.md resumability row).
"""
from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.readwriter import DataFrameReader

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.manifest import (
    completed_buckets,
    read_manifest,
    run_resumable,
)
from tei_chunker_spark.operators.extract import extract_pipeline

JOB = JobConfig(
    chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50),
    num_buckets=8,
    shuffle_partitions=8,
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "input")
    rows = make_rows([f"m{i}" for i in range(150)])
    spark.createDataFrame(rows, INPUT_SCHEMA_DDL).write.parquet(path)
    return path


def _spans_set(spark, path):
    return {
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in spark.read.parquet(path).drop("bucket").collect()
    }


def test_crash_then_resume_no_dupes_no_gaps(spark, corpus_path, tmp_path):
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    manifest = str(tmp_path / "manifest")

    # single-shot truth
    run_resumable(spark, corpus_path, out_a, str(tmp_path / "m_a"), JOB, job_id="truth")
    truth = _spans_set(spark, out_a)
    assert truth

    # crashed run: dies after 1 wave of 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(
            spark, corpus_path, out_b, manifest, JOB,
            job_id="crashy", wave_size=3, fail_after_waves=1,
        )
    done_after_crash = completed_buckets(spark, manifest, "crashy")
    assert 0 < len(done_after_crash) < JOB.num_buckets

    # resume completes the rest, skipping finished buckets
    run_resumable(spark, corpus_path, out_b, manifest, JOB, job_id="crashy", wave_size=3)
    assert _spans_set(spark, out_b) == truth  # no dupes, no gaps

    m = read_manifest(spark, manifest).filter("job_id = 'crashy'")
    per_bucket = {r.bucket for r in m.filter("status = 'done'").collect()}
    assert per_bucket == set(range(JOB.num_buckets))
    # lineage recorded
    assert all("num_buckets" in r.lineage_json for r in m.collect())
    # metrics add up to the true span count
    latest = {}
    for r in m.collect():
        if r.bucket not in latest or r.attempt > latest[r.bucket].attempt:
            latest[r.bucket] = r
    assert sum(r.span_count for r in latest.values()) == len(truth)
    # input accounting covers every input doc (incl. zero-output docs)
    total_in = sum(r.input_doc_count for r in latest.values())
    n_input = spark.read.parquet(corpus_path).count()
    assert total_in == n_input
    assert all(r.doc_count <= r.input_doc_count for r in latest.values())


def _latest(spark, manifest, job_id):
    latest = {}
    for r in read_manifest(spark, manifest).filter(f"job_id = '{job_id}'").collect():
        if r.bucket not in latest or r.attempt > latest[r.bucket].attempt:
            latest[r.bucket] = r
    return latest


def test_manifest_counts_exact_per_bucket(spark, tmp_path):
    """Each bucket's three counts equal a direct recount of the input and
    of the written output — per bucket, not only as sums — including
    buckets where documents vanish (malformed XML, the max_doc_chars cap,
    empty or NULL span arrays) so input_doc_count > doc_count."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.extract import bucket_column

    rows = make_rows([f"x{i}" for i in range(200)])
    rows += [
        {"doc_id": f"bad{i}", "spans": [
            {"kind": "text", "text": "<TEI><unclosed ", "media_ref": None, "offset": 0}
        ]}
        for i in range(12)
    ]
    rows += [{"doc_id": "empty", "spans": []}, {"doc_id": "null", "spans": None}]
    cap = 4000
    assert any(sum(len(s["text"] or "") for s in r["spans"] or []) > cap for r in rows)
    corpus = str(tmp_path / "input")
    spark.createDataFrame(rows, INPUT_SCHEMA_DDL).write.parquet(corpus)
    job = JobConfig(
        chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50, max_doc_chars=cap),
        num_buckets=8,
        shuffle_partitions=8,
    )
    out, manifest = str(tmp_path / "out"), str(tmp_path / "manifest")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, corpus, out, manifest, job, job_id="exact",
                      wave_size=3, fail_after_waves=1)
    run_resumable(spark, corpus, out, manifest, job, job_id="exact", wave_size=3)

    nb = job.num_buckets
    inputs = {
        r.bucket: r.n
        for r in spark.read.parquet(corpus).groupBy(bucket_column(nb).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    outputs = {
        r.bucket: (r.docs, r.spans)
        for r in spark.read.parquet(out).groupBy("bucket")
        .agg(F.countDistinct("doc_id").alias("docs"), F.count(F.lit(1)).alias("spans"))
        .collect()
    }
    latest = _latest(spark, manifest, "exact")
    assert set(latest) == set(range(nb))
    for b, r in latest.items():
        assert r.status == "done"
        assert r.input_doc_count == inputs.get(b, 0), b
        assert (r.doc_count, r.span_count) == outputs.get(b, (0, 0)), b
    assert any(r.input_doc_count > r.doc_count for r in latest.values())


def test_wave_write_files_bounded(spark, corpus_path, tmp_path):
    """Each wave's partitionBy("bucket") write produces at most
    n + wave_size - 1 files (n = Python tasks): every task takes a
    contiguous run of the wave's buckets.  A plain doc_id hash puts every
    bucket in every task, up to n * wave_size files per wave."""
    import glob

    from tei_chunker_spark.operators.extract import python_tasks

    out = str(tmp_path / "out")
    wave_size = 4
    run_resumable(spark, corpus_path, out, str(tmp_path / "m"), JOB,
                  job_id="files", wave_size=wave_size)
    n = python_tasks(spark, JOB)
    waves = JOB.num_buckets // wave_size
    files = glob.glob(f"{out}/bucket=*/*.parquet")
    assert len({f.split("/")[-2] for f in files}) == JOB.num_buckets
    assert len(files) <= waves * (n + wave_size - 1)


def test_rerun_completed_job_is_noop(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    run_resumable(spark, corpus_path, out, manifest, JOB, job_id="j2")
    n_manifest = read_manifest(spark, manifest).count()
    run_resumable(spark, corpus_path, out, manifest, JOB, job_id="j2")
    assert read_manifest(spark, manifest).count() == n_manifest  # nothing re-done


def test_failed_wave_is_recorded_then_rerun_completes(spark, corpus_path, tmp_path):
    """A write that raises leaves status='failed' rows (error class in the
    lineage) for its wave, re-raises, and a rerun completes those buckets."""
    import json

    from dataclasses import replace

    out, manifest = str(tmp_path / "out"), str(tmp_path / "manifest")
    broken = replace(JOB, output_format="no_such_format")
    with pytest.raises(Exception) as err:
        run_resumable(spark, corpus_path, out, manifest, broken, job_id="f", wave_size=3)
    assert "injected failure" not in str(err.value)

    failed = read_manifest(spark, manifest).filter("job_id = 'f'").collect()
    assert sorted(r.bucket for r in failed) == [0, 1, 2]
    assert {r.status for r in failed} == {"failed"}
    assert {r.attempt for r in failed} == {1}
    assert all(json.loads(r.lineage_json)["error"] == type(err.value).__name__ for r in failed)
    assert completed_buckets(spark, manifest, "f") == []

    run_resumable(spark, corpus_path, out, manifest, JOB, job_id="f", wave_size=3)
    latest = _latest(spark, manifest, "f")
    assert completed_buckets(spark, manifest, "f") == list(range(JOB.num_buckets))
    assert {r.status for r in latest.values()} == {"done"}
    assert {latest[b].attempt for b in (0, 1, 2)} == {2}


@pytest.mark.parametrize(
    "error",
    [OSError("transient listing failure"), AnalysisException("unreadable manifest")],
    ids=["io", "analysis"],
)
def test_manifest_read_error_is_not_first_run(spark, corpus_path, tmp_path, monkeypatch, error):
    """Only a missing manifest path means "first run".  Any other read
    error must stop the job: read as "no manifest", it would restart at
    attempt 1 and reprocess every bucket."""
    manifest = str(tmp_path / "manifest")
    read_parquet = DataFrameReader.parquet

    def failing_read(self, *paths, **options):
        if manifest in paths:
            raise error
        return read_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", failing_read)
    with pytest.raises(type(error)):
        run_resumable(spark, corpus_path, str(tmp_path / "out"), manifest, JOB, job_id="e")
