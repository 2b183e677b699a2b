"""Per-layer metrics of a traced run.

Two sources:

* ``core_layers`` times the pure-Python core in this process, single
  thread, through its public functions, on a seeded sample of the
  workload's own documents;
* ``spark_layers`` derives the session, extract, manifest and dedup layer
  numbers from the Spark counters and spans a traced child recorded.

Every per-layer metric is reported on every workload; a layer the workload
does not enter reads 0, which is how a bypass shows.
"""
from __future__ import annotations

import random
import statistics
import time
import xml.etree.ElementTree as ET
from typing import Dict, List

import tracing

PYTHON_RUN = "time to run Python workers"
SAMPLE_DOCS = 400
REPEATS = 3
FRAMING_ROUNDS = 5


def _best_of(fn, repeats: int = REPEATS) -> float:
    """Seconds of the fastest of ``repeats`` calls (single-thread timing on
    a shared host: the minimum is the least disturbed reading)."""
    best = float("inf")
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def core_layers(rows: List[Dict], seed: int, max_chunk: int, overlap: int) -> Dict[str, float]:
    import pandas as pd

    from tei_chunker_spark.config import ChunkerConfig
    from tei_chunker_spark.core import chunk_tei, pack_chunks, parse_tei
    from tei_chunker_spark.operators.extract import make_batch_extractor

    sample = random.Random(f"perfbench-core-sample/{seed}").sample(rows, min(SAMPLE_DOCS, len(rows)))
    docs = []
    for row in sample:
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        xml = "".join(s["text"] for s in spans if s["kind"] == "text" and s["text"] is not None)
        media = [s["media_ref"] for s in spans if s["kind"] == "media"]
        docs.append((row["doc_id"], xml, media))
    xmls = [xml for _, xml, _ in docs]
    cfg = ChunkerConfig(max_chunk, overlap)

    failed = 0
    for xml in xmls:
        try:
            ET.fromstring(xml)
        except ET.ParseError:
            failed += 1

    def fromstring_all():
        for xml in xmls:
            try:
                ET.fromstring(xml)
            except ET.ParseError:
                pass

    parsed = [parse_tei(xml) for xml in xmls]
    batch = pd.DataFrame(
        {"doc_id": [d for d, _, _ in docs], "xml": xmls, "media": [m for _, _, m in docs]}
    )
    extractor = make_batch_extractor(cfg)
    n = len(xmls)
    us = 1e6 / n
    # Framing is a small difference of two large timings: alternate them so
    # that a slow moment of the host does not land on one side only.
    chunk_s = batch_s = float("inf")
    for _ in range(FRAMING_ROUNDS):
        chunk_s = min(chunk_s, _best_of(lambda: [chunk_tei(xml, cfg) for xml in xmls], 1))
        batch_s = min(batch_s, _best_of(lambda: list(extractor(iter([batch]))), 1))
    return {
        "core.fromstring_us_per_doc": _best_of(fromstring_all) * us,
        "core.parse_tei_us_per_doc": _best_of(lambda: [parse_tei(x) for x in xmls]) * us,
        "core.pack_chunks_us_per_doc": _best_of(
            lambda: [pack_chunks(nodes, max_chunk, overlap) for nodes in parsed]
        )
        * us,
        "core.chunks_per_doc": sum(len(pack_chunks(p, max_chunk, overlap)) for p in parsed) / n,
        "core.parse_failed_docs": float(failed),
        "extract.framing_us_per_doc": (batch_s - chunk_s) * us,
    }


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


def _python_executions(counters: Dict) -> List[Dict]:
    return [e for e in counters["sql"] if PYTHON_RUN in e["metrics"]]


def _stages_of(counters: Dict, executions: List[Dict]) -> List[Dict]:
    job_ids = {j for e in executions for j in e["jobs"]}
    return [s for job in counters["jobs"] if job["id"] in job_ids for s in job["stages"]]


def _merge(groups: List[Dict]) -> Dict:
    return {
        "jobs": [j for g in groups for j in g["jobs"]],
        "sql": [e for g in groups for e in g["sql"]],
    }


def _extract_layers(c: Dict) -> Dict[str, float]:
    """Extraction numbers from the executions that ran the Python stage."""
    executions = _python_executions(c)
    stages = _stages_of(c, executions)
    metric = lambda name: sum(e["metrics"].get(name, 0.0) for e in executions)  # noqa: E731
    run_s = sum(s["run_s"] for s in stages)
    python_s = metric(PYTHON_RUN)
    skews = []
    for e in executions:  # the Python stage is the busiest stage of its execution
        busiest = max(_stages_of(c, [e]), key=lambda s: s["run_s"])
        if busiest["task_ms"]:
            skews.append(max(busiest["task_ms"]) / max(statistics.median(busiest["task_ms"]), 1.0))
    return {
        "extract.scan_s": metric("scan time"),
        "extract.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in stages)),
        "extract.python_run_s": python_s,
        "extract.python_busy_share": python_s / run_s if run_s else 0.0,
        "extract.arrow_sent_bytes": metric("data sent to Python workers"),
        "extract.arrow_returned_bytes": metric("data returned from Python workers"),
        "extract.written_bytes": float(sum(s["output_bytes"] for s in stages)),
        "extract.stage_run_s": run_s,
        "extract.stage_cpu_s": sum(s["cpu_s"] for s in stages),
        "extract.gc_s": sum(s["gc_s"] for s in stages),
        "extract.jobs_per_action": len({j for e in executions for j in e["jobs"]}) / len(executions),
        "extract.task_skew": max(skews) if skews else 0.0,
    }


def _manifest_layers(c: Dict, waves: int) -> Dict[str, float]:
    write_jobs = {j for e in _python_executions(c) for j in e["jobs"]}
    job_wall = lambda j: (j["end_ms"] - j["submit_ms"]) / 1e3  # noqa: E731
    return {
        "manifest.jobs_per_wave": len(c["jobs"]) / waves,
        "manifest.files_read_per_wave": sum(
            e["metrics"].get("number of files read", 0.0) for e in c["sql"]
        )
        / waves,
        "manifest.write_s": sum(job_wall(j) for j in c["jobs"] if j["id"] in write_jobs),
        "manifest.bookkeeping_s": sum(job_wall(j) for j in c["jobs"] if j["id"] not in write_jobs),
    }


def _dedup_layers(job: Dict) -> Dict[str, float]:
    cc = _merge([v for k, v in job["counters"].items() if k.endswith(":cc")])
    everything = _merge(list(job["counters"].values()))
    return {
        "dedup.pairs_s": job["pairs_s"],
        "dedup.cc_s": job["cc_s"],
        "dedup.cc_jobs": float(len(cc["jobs"])),
        "dedup.shuffle_write_bytes": float(
            sum(s["shuffle_write_bytes"] for j in everything["jobs"] for s in j["stages"])
        ),
    }


def _stage_layer(workload: str):
    def layer(stage: Dict, execution) -> str:
        if workload == "dedup_near":
            return "dedup"
        # Jobs outside any SQL execution read parquet footers for schema
        # inference: part of the scan.
        if stage["input_bytes"] > 0 or execution is None:
            return "scan"
        if PYTHON_RUN in execution["metrics"]:
            return "extract"
        return "manifest"

    return layer


def _self_times(job: Dict, workload: str) -> Dict[str, float]:
    root = next(s for s in job["spans"] if s["name"] == "job")
    jobs, stages = tracing.spark_intervals(
        _merge(list(job["counters"].values())), _stage_layer(workload)
    )
    times = tracing.self_times(root["start"], root["end"], jobs, stages)
    return {f"self.{layer}_s": seconds for layer, seconds in times.items()}


def spark_layers(workload: str, child: Dict, waves: int) -> Dict[str, float]:
    """Layer metrics of one traced child: medians over its traced jobs."""
    warm = [e for c in child["burnin_counters"] for e in c["sql"]]
    out = {
        "session.start_s": child["session_start_s"],
        "session.python_worker_start_s": sum(
            e["metrics"].get("time to start Python workers", 0.0)
            + e["metrics"].get("time to initialize Python workers", 0.0)
            for e in warm
        ),
        "extract.reassemble_s": child.get("reassemble_s", 0.0),
    }
    traced = [j for j in child["jobs"] if "spans" in j]
    untraced = [j["wall_s"] for j in child["jobs"] if not j["traced"] and "wall_s" in j]
    per_job: List[Dict[str, float]] = []
    for job in traced:
        values = _self_times(job, workload)
        merged = _merge(list(job["counters"].values()))
        if workload != "dedup_near":
            values.update(_extract_layers(merged))
        if workload == "resume_narrow":
            values.update(_manifest_layers(merged, waves))
            values["manifest.resume_s"] = job["resume_s"]
        if workload == "dedup_near":
            values.update(_dedup_layers(job))
        per_job.append(values)
    for name in per_job[0] if per_job else ():
        out[name] = _median([v[name] for v in per_job])
    out["trace.overhead_s"] = _median([j["wall_s"] for j in traced]) - _median(untraced)
    return out
