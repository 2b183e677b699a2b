"""End-to-end Spark pipeline tests: golden equality, partitioning
invariance, and agreement with the in-process core on a synthetic corpus.
"""
from __future__ import annotations

import pytest

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.core import extract_spans
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.operators.extract import extract_pipeline

F1 = """<?xml version="1.0" encoding="UTF-8"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0">
    <teiHeader><fileDesc><titleStmt><title>Test Paper</title></titleStmt></fileDesc></teiHeader>
    <text><body>
        <div><head>Introduction</head><p>Test introduction content.</p><formula>E = mc^2</formula></div>
        <div><head>Methods</head><p>Test methods content.</p></div>
    </body></text>
</TEI>"""

JOB = JobConfig(chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50), shuffle_partitions=8)


def _input_df(spark, rows):
    return spark.createDataFrame(rows, INPUT_SCHEMA_DDL)


def _collect_by_doc(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append((r.offset, r.kind, r.text, r.media_ref))
    return {k: [t[1:] for t in sorted(v)] for k, v in out.items()}


def test_pipeline_golden_f1_with_media(spark):
    cut = len(F1) // 2
    rows = [
        {
            "doc_id": "g1",
            "spans": [
                {"kind": "text", "text": F1[:cut], "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "fig://g1/0", "offset": 1},
                {"kind": "text", "text": F1[cut:], "media_ref": None, "offset": 2},
            ],
        }
    ]
    out = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    assert out == {
        "g1": [
            (
                "text",
                "# Introduction\n\nTest introduction content.\n\nE = mc^2\n\n# Methods\n\nTest methods content.",
                None,
            ),
            ("media_ref", None, "fig://g1/0"),
        ]
    }


def test_pipeline_malformed_doc_yields_media_only(spark):
    rows = [
        {
            "doc_id": "bad",
            "spans": [
                {"kind": "text", "text": "<broken", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "img://bad/1", "offset": 1},
            ],
        }
    ]
    out = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    assert out == {"bad": [("media_ref", None, "img://bad/1")]}


def test_pipeline_matches_core_on_synthetic_corpus(spark):
    rows = make_rows([f"c{i}" for i in range(120)])
    got = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    checked = 0
    for row in rows:
        spans_t = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        exp = [
            (s.kind, s.text, s.media_ref)
            for s in extract_spans(row["doc_id"], spans_t, JOB.chunker)
        ]
        assert got.get(row["doc_id"], []) == exp, row["doc_id"]
        checked += 1
    assert checked == 120
    # some docs must actually produce output (not a vacuous pass)
    assert sum(len(v) for v in got.values()) > 200


@pytest.mark.parametrize("partitions", [3, 13])
def test_pipeline_invariant_under_partitioning(spark, partitions):
    """Output is a pure function of the input — unchanged by the physical
    partition count (execution knobs never leak into results)."""
    rows = make_rows([f"p{i}" for i in range(40)])
    base = _collect_by_doc(
        extract_pipeline(_input_df(spark, rows), JOB)
    )
    other_job = JobConfig(chunker=JOB.chunker, shuffle_partitions=partitions)
    other = _collect_by_doc(
        extract_pipeline(_input_df(spark, rows).repartition(5), other_job)
    )
    assert base == other


def test_oversized_doc_guardrail(spark):
    """max_doc_chars skips parsing (zero text spans) but keeps media and
    leaves small docs untouched."""
    rows = make_rows([f"g{i}" for i in range(30)])
    base = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    xml_len = {
        r["doc_id"]: sum(len(s["text"] or "") for s in r["spans"]) for r in rows
    }
    cap = sorted(xml_len.values())[len(xml_len) // 2]  # median -> half capped
    capped_job = JobConfig(
        chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50, max_doc_chars=cap),
        shuffle_partitions=8,
    )
    capped = _collect_by_doc(extract_pipeline(_input_df(spark, rows), capped_job))
    for row in rows:
        d = row["doc_id"]
        if xml_len[d] <= cap:
            assert capped.get(d, []) == base.get(d, [])
        else:
            assert all(k == "media_ref" for k, _t, _m in capped.get(d, []))


def test_bucketed_input_elides_shuffle_same_output(spark):
    """assume_bucketed_input drops the Exchange; rows are identical."""
    from tei_chunker_spark.plans.explain import count_exchanges

    rows = make_rows([f"bk{i}" for i in range(40)])
    df = _input_df(spark, rows)
    bucketed_job = JobConfig(
        chunker=JOB.chunker, shuffle_partitions=8, assume_bucketed_input=True
    )
    with_shuffle = extract_pipeline(df, JOB)
    without = extract_pipeline(df.repartition(4), bucketed_job)
    assert count_exchanges(with_shuffle) == 1
    # repartition(4) itself is one exchange; the pipeline adds none
    assert count_exchanges(without) == 1
    assert _collect_by_doc(with_shuffle) == _collect_by_doc(without)


def test_salting_distribution(spark):
    """The manifest's bucket id spreads documents near-uniformly across
    buckets, so resume waves carry equal shares of the corpus."""
    from tei_chunker_spark.operators.extract import bucket_column

    rows = make_rows([f"s{i}" for i in range(400)])
    df = _input_df(spark, rows)
    counts = [
        r.n
        for r in df.select(bucket_column(16).alias("b"))
        .groupBy("b")
        .agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == 16  # every bucket hit
    assert max(counts) < 3 * min(counts)  # no gross imbalance at n=400


@pytest.mark.parametrize("p", [2, 8])
def test_exchange_fills_every_partition(spark, p):
    """Every partition of the extraction exchange carries documents, in
    near-equal shares: an empty partition still launches a Python task
    and pays its worker set-up for nothing."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.extract import shuffled_reassembly

    rows = make_rows([f"o{i}" for i in range(400)])
    docs = shuffled_reassembly(_input_df(spark, rows), JobConfig(shuffle_partitions=p))
    counts = [
        r.n
        for r in docs.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == p
    assert sum(counts) == 400
    assert max(counts) < 2 * min(counts)


@pytest.mark.parametrize("pipeline", ["extract", "sections"])
def test_python_tasks_capped_at_slots(spark, pipeline):
    """In local mode shuffle_partitions is an upper bound on Python tasks
    per stage: never more tasks than task slots, fewer when asked."""
    from tei_chunker_spark.operators.extract import section_metadata_pipeline

    fn = extract_pipeline if pipeline == "extract" else section_metadata_pipeline
    df = _input_df(spark, make_rows([f"t{i}" for i in range(40)]))
    slots = spark.sparkContext.defaultParallelism
    wide = fn(df, JobConfig(chunker=JOB.chunker, shuffle_partitions=64))
    assert wide.rdd.getNumPartitions() == slots
    narrow = fn(df, JobConfig(chunker=JOB.chunker, shuffle_partitions=3))
    assert narrow.rdd.getNumPartitions() == 3


@pytest.mark.parametrize(
    "master, tasks", [("local[2]", 2), ("yarn", 64), ("spark://h:7077", 64), ("k8s://https://h", 64)]
)
def test_python_tasks_capped_only_in_local_mode(master, tasks):
    """On a cluster defaultParallelism reads 2 under dynamic allocation or
    before executors register; capping there would run a whole stage in
    2 tasks, so shuffle_partitions is used as given."""
    from types import SimpleNamespace

    from tei_chunker_spark.operators.extract import python_tasks

    session = SimpleNamespace(sparkContext=SimpleNamespace(master=master, defaultParallelism=2))
    assert python_tasks(session, JobConfig(shuffle_partitions=64)) == tasks


@pytest.mark.parametrize("n", [3, 256])
def test_wave_layout_bounds_files_per_wave(spark, n):
    """wave_partition_id gives each of n partitions a near-equal share of
    a manifest wave and a contiguous run of its buckets: at most
    n + len(wave) - 1 (partition, bucket) cells, i.e. files in the wave's
    partitionBy("bucket") write."""
    from collections import Counter

    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.extract import bucket_column, wave_partition_id

    wave = list(range(8, 16))
    docs = spark.range(80000).select(F.concat(F.lit("w"), F.col("id").cast("string")).alias("doc_id"))
    cells = (
        docs.filter(bucket_column(16).isin(wave))
        .groupBy(wave_partition_id(wave, 16, n).alias("pid"), bucket_column(16).alias("b"))
        .count()
        .collect()
    )
    per_pid = Counter()
    for r in cells:
        per_pid[r.pid] += r["count"]
    assert sorted(per_pid) == list(range(n))
    assert len(cells) <= n + len(wave) - 1
    assert max(per_pid.values()) < 2 * min(per_pid.values())


def test_physical_plan_shape(spark):
    """One shuffle, one Python stage, pruned scan: the 100 TB plan."""
    from pyspark.sql import functions as F

    rows = make_rows(["x1", "x2"])
    df = _input_df(spark, rows).withColumn("extra_col", F.col("doc_id"))
    plan = extract_pipeline(df, JOB)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan


def test_observation_metrics_free_counters(spark):
    """job.observed_spans: sink-side Observation counters match exact
    recomputation (n_spans/n_text/n_media exact; doc count is HLL-approx
    — DISTINCT is rejected by CollectMetrics — so tolerance-checked)."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.job import observed_spans

    rows = make_rows([f"obs{i}" for i in range(40)])
    spans = extract_pipeline(_input_df(spark, rows), JOB)
    observed, obs = observed_spans(spans)
    collected = observed.collect()  # the action that publishes metrics
    m = obs.get
    assert m["n_spans"] == len(collected)
    kinds = [r.kind for r in collected]
    assert m["n_text"] == sum(k == "text" for k in kinds)
    assert m["n_media"] == sum(k == "media_ref" for k in kinds)
    n_docs = len({r.doc_id for r in collected})
    assert abs(m["n_docs_approx"] - n_docs) <= max(2, 0.05 * n_docs)
    # observation is a pass-through: rows identical to the unobserved run
    assert {tuple(r) for r in collected} == {
        tuple(r) for r in extract_pipeline(_input_df(spark, rows), JOB).collect()
    }
