"""The extraction stage: interleaved-span documents -> ordered output spans.

Physical plan (see SURVEY.md §4.3):

    Scan -> Project(doc_id, spans) -> Exchange(hash(doc_id), n) ->
    MapInPandas(extract) -> Sink

One wide dependency total, hash-partitioned on doc_id itself, so every
partition gets an equal share of documents.  Each Python task pays a
fixed worker set-up cost before it sees a row (~0.24 CPU-s measured on a
4-vCPU host), so in local mode, where the slot count is fixed, the
exchange has ``min(shuffle_partitions, defaultParallelism)`` partitions:
one Python task per slot.  On a cluster it has ``shuffle_partitions``
(see :func:`python_tasks`).  A manifest wave lays its buckets out in
contiguous runs of partitions instead (:func:`wave_partition_id`), so
its ``partitionBy("bucket")`` write stays near one file per task.
Small Arrow batches bound the size of one batch and ``max_doc_chars``
bounds one document's cost; neither balances work across tasks, and AQE
cannot see inside the Python stage (SURVEY.md §4.2).

The Python stage is the sanctioned vectorized path: data crosses the
JVM<->Python boundary in columnar Arrow batches via ``mapInPandas``; the
per-document parse is necessarily scalar inside the batch loop (the
reference semantics are a whole-document fold — reference chunking.py:185-265),
but there is no row-at-a-time ``udf()`` anywhere.
"""
from __future__ import annotations

from typing import Iterable, Iterator, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ChunkerConfig, JobConfig
from ..core import chunk_tei, section_meta

SPAN_SCHEMA_DDL = "doc_id string, offset int, kind string, text string, media_ref string"
SECTION_SCHEMA_DDL = (
    "doc_id string, section_idx int, title string, level int, "
    "length int, subsection_count int"
)


def reassembled(df: DataFrame) -> DataFrame:
    """JVM-side document reassembly: spans array -> (doc_id, xml, media).

    Converting ``array<struct>`` through Arrow into Python dicts costs more
    than the extraction itself (measured ~4x the chunker's own CPU), so the
    span plumbing stays in WholeStageCodegen: sort by offset, concatenate
    the text spans into one XML string, project the media refs into a plain
    string array.  Python then receives two flat columns — the fast Arrow
    path.  Media passthrough order (input offset order) is preserved by the
    same sort, matching core.extract_spans (FIXTURES.md §1.2)."""
    ordered = F.array_sort(
        F.col("spans"),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )
    text_of = lambda s: s["text"]  # noqa: E731
    empty = F.array().cast("array<string>")
    return df.select(
        "doc_id",
        F.concat_ws(
            "",
            F.transform(
                F.filter(ordered, lambda s: (s["kind"] == "text") & s["text"].isNotNull()),
                text_of,
            ),
        ).alias("xml"),
        # coalesce: a NULL spans array must degrade like malformed XML does
        # (zero output spans), not crash the Python stage iterating media.
        F.coalesce(
            F.transform(
                F.filter(ordered, lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
            empty,
        ).alias("media"),
    )


def make_batch_extractor(cfg: ChunkerConfig):
    """Arrow-batch extraction fn for ``mapInPandas`` (1 doc row -> N span rows).

    Input batches carry (doc_id, xml, media) from :func:`reassembled`; the
    whole-document fold (reference chunking.py:185-265) runs per row, text
    chunks first, then media passthrough spans — identical observable
    output to core.extract_spans (pinned by tests/test_pipeline.py)."""

    def extract_batches(batches: Iterable) -> Iterator:
        import pandas as pd

        cap = cfg.max_doc_chars
        for pdf in batches:
            doc_ids, offsets, kinds, texts, refs = [], [], [], [], []
            for doc_id, xml, media in zip(pdf["doc_id"], pdf["xml"], pdf["media"]):
                offset = 0
                chunks = [] if (cap is not None and len(xml) > cap) else chunk_tei(xml, cfg)
                for chunk in chunks:
                    doc_ids.append(doc_id)
                    offsets.append(offset)
                    kinds.append("text")
                    texts.append(chunk)
                    refs.append(None)
                    offset += 1
                for ref in media:
                    doc_ids.append(doc_id)
                    offsets.append(offset)
                    kinds.append("media_ref")
                    texts.append(None)
                    refs.append(ref)
                    offset += 1
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "offset": pd.array(offsets, dtype="int32"),
                    "kind": kinds,
                    "text": texts,
                    "media_ref": refs,
                }
            )

    return extract_batches


def bucket_column(num_buckets: int, col: str = "doc_id") -> Column:
    """Stable bucket id in ``[0, num_buckets)``: the manifest's
    checkpoint/resume granularity."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets)).cast("int")


def python_tasks(spark: SparkSession, job: JobConfig) -> int:
    """Partitions of the extraction exchange, i.e. Python tasks per stage.

    In local mode the slot count is fixed by the master URL, and a second
    round of tasks on a slot adds the per-task worker fee and no
    parallelism, so the count is capped at ``defaultParallelism``.  On a
    cluster ``shuffle_partitions`` is used as given: under dynamic
    allocation, or before executors register, ``defaultParallelism``
    reads 2 and would starve the stage (pending tasks are what scale
    executors up), and at cluster scale the fee is small next to a task's
    work while extra task rounds let fast slots absorb straggler
    partitions."""
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        return min(job.shuffle_partitions, sc.defaultParallelism)
    return job.shuffle_partitions


def wave_partition_id(wave: Sequence[int], num_buckets: int, n: int) -> Column:
    """Partition id in ``[0, n)`` that lays the buckets of one manifest
    wave out in order: a document sits at ``i + u`` on the line
    ``[0, len(wave))``, where ``i`` is its bucket's index in the wave and
    ``u`` in ``[0, 1)`` comes from a second, independent hash of doc_id;
    partition ``j`` takes the ``j``-th of ``n`` equal segments.  Shares
    stay equal (buckets are equal-sized hash classes), and each partition
    holds a contiguous run of buckets, so a ``partitionBy("bucket")``
    write produces at most ``n + len(wave) - 1`` files, where hashing
    doc_id alone puts every bucket in every partition
    (``n * len(wave)``)."""
    scale = 1 << 20
    index = F.array_position(F.array(*[F.lit(b) for b in wave]), bucket_column(num_buckets)) - 1
    line = index + F.pmod(F.hash("doc_id"), F.lit(scale)) / scale
    return F.floor(line * n / len(wave)).cast("int")


def shuffled_reassembly(
    df: DataFrame, job: JobConfig, wave: Optional[Sequence[int]] = None
) -> DataFrame:
    """documents(doc_id, spans) -> (doc_id, xml, media), one row per input
    row: the first half of :func:`extract_pipeline`, shared by every
    extraction-family pipeline.

    Shuffle FIRST, reassemble AFTER: the concat/sort codegen then runs in
    the wide stage instead of the scan stage, whose task count is bounded
    by input splits (a handful of parquet files must not cap CPU
    parallelism).  The scan stage does nothing but read + shuffle.  The
    task count is read when the plan is built, so every ``run_resumable``
    wave sees the current one.  ``wave`` (the manifest buckets the input
    is filtered to) selects the bucket-ordered layout of
    :func:`wave_partition_id` over a plain doc_id hash.  If the table is
    already laid out by document (Iceberg ``bucket(P, doc_id)``),
    ``assume_bucketed_input`` skips the shuffle entirely — at 100 TB the
    repartition would otherwise move every input byte once for nothing."""
    docs = df.select("doc_id", "spans")
    if not job.assume_bucketed_input:
        n = python_tasks(df.sparkSession, job)
        if wave is None:
            docs = docs.repartition(n, "doc_id")
        else:
            docs = docs.repartitionById(n, wave_partition_id(wave, job.num_buckets, n))
    return reassembled(docs)


def chunk_stage(docs: DataFrame, cfg: ChunkerConfig) -> DataFrame:
    """(doc_id, xml, media) -> spans_out: the Python half of
    :func:`extract_pipeline`, one Arrow-batched ``mapInPandas``."""
    return docs.mapInPandas(make_batch_extractor(cfg), SPAN_SCHEMA_DDL)


def extract_pipeline(df: DataFrame, job: JobConfig) -> DataFrame:
    """documents(doc_id, spans) -> spans_out(doc_id, offset, kind, text, media_ref).

    Output row order within a document is the semantic ``offset``; global
    order is undefined (it's a distributed table — verification sorts).
    """
    return chunk_stage(shuffled_reassembly(df, job), job.chunker)


def media_ref_pipeline(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> (doc_id, media_ref): every media span's
    ref, one row each — the media-only projection of ``extract_pipeline``.

    The full pipeline parses and chunks every document's TEXT and then a
    media-only consumer filters kind == 'media_ref', throwing the chunks
    away — at 100 TB that is a full XML-parse pass for nothing (guide
    §1.2: don't compute things you discard).  Media passthrough is
    unconditional in the chunker (reference semantics: media spans are
    emitted even when the XML is malformed and yields zero text chunks),
    and a media-only consumer ignores the offset column, so the multiset
    of (doc_id, media_ref) rows is exactly the input's media spans —
    computable as a NARROW projection: no shuffle, no XML reassembly,
    no Python stage.  Identity with the filtered full pipeline is pinned
    by test_media_ref_pipeline_matches_filtered_extract."""
    refs = F.coalesce(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == "media"),
            lambda s: s["media_ref"],
        ),
        F.array().cast("array<string>"),
    )
    return df.select("doc_id", F.explode(refs).alias("media_ref"))


def section_metadata_pipeline(df: DataFrame, job: JobConfig) -> DataFrame:
    """documents(doc_id, spans) -> per-document top-level section metadata.

    Parity surface for the reference service's JSON ``sections`` response
    array (reference service.py:37-44): one output row per top-level
    section — (doc_id, section_idx, title, level, length,
    subsection_count), length = direct content only.  Same physical shape
    as extract_pipeline: scan -> one doc_id exchange -> mapInPandas."""
    cap = job.chunker.max_doc_chars

    def meta_batches(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            doc_ids, idxs, titles, levels, lengths, counts = [], [], [], [], [], []
            for doc_id, xml in zip(pdf["doc_id"], pdf["xml"]):
                rows = [] if (cap is not None and len(xml) > cap) else section_meta(xml)
                for i, title, level, length, n_subs in rows:
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    titles.append(title)
                    levels.append(level)
                    lengths.append(length)
                    counts.append(n_subs)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "section_idx": pd.array(idxs, dtype="int32"),
                    "title": titles,
                    "level": pd.array(levels, dtype="int32"),
                    "length": pd.array(lengths, dtype="int32"),
                    "subsection_count": pd.array(counts, dtype="int32"),
                }
            )

    # select() before the Python stage: the section walk never reads the
    # media array, and the projection lets Catalyst prune the media
    # filter/transform out of the plan AND off the Arrow wire.
    return (
        shuffled_reassembly(df, job)
        .select("doc_id", "xml")
        .mapInPandas(meta_batches, SECTION_SCHEMA_DDL)
    )
