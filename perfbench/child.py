"""One Spark driver of the benchmark: set up, then run timed jobs.

Started by ``run.py`` as its own process, so that set-up is measured from a
cold interpreter and JVM, and so that ``local[1]`` and ``local[2]`` runs do
not share a JVM.  Writes one JSON file with its set-up times, the wall of
every job, the paths of every job's output (checked by the parent outside
the timed region) and, when tracing, the spans and Spark counters of the
traced jobs.

Set-up is ``get_spark`` plus a warm-up action: ``--burnin-jobs`` runs of the
workload's job on its own input, which start the Python workers and warm
JIT, code generation and parquet footer reads before anything is timed.
Then exactly ``--jobs`` timed jobs run: a fixed count, not a time limit, so
that every run times the same stretch of the JVM's warm-up whatever the
host's speed.  With ``--trace`` the timed jobs alternate untraced and
traced, so the tracing overhead is measured in the same process.
"""
from __future__ import annotations

import argparse
import json
import os
import time
import traceback
from typing import List, Tuple

from spark_counters import SparkCounters
from tracing import Tracer

TICK = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot names, cut to 15 chars


def _stat(path: str) -> List[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> Tuple[float, float]:
    """(CPU seconds, of which JIT compiler threads) used so far by this
    process and every live descendant (the JVM and its Python workers),
    reaped children included.  The JVM runs with a fixed set of compiler
    threads (see run.py), so none of them exits and takes its time along."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(f"/proc/{name}/stat")
            except OSError:
                pass
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, st in stats.items() if int(st[1]) in frontier} - tree
    total = jit = 0
    for pid in tree & set(stats):
        total += sum(int(x) for x in stats[pid][11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                jit += sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except OSError:
                pass
    return total / TICK, jit / TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class Workload:
    """The job of one workload; ``run(i, out, source)`` runs it on the input
    at ``source`` and returns the job's wall time (and any extra timings)
    and the output paths to check."""

    def __init__(self, spark, args, tracer, counters) -> None:
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.counters = counters
        self.groups = []

    def action(self, group: str, name: str, fn):
        """Run one Spark action under a job group, inside a span."""
        self.counters.set_group(group)
        self.groups.append(group)
        try:
            with self.tracer.span(name, group=group):
                return fn()
        finally:
            self.counters.clear_group()


class ExtractWide(Workload):
    def run(self, i, out: str, source: str):
        from tei_chunker_spark.config import ChunkerConfig, JobConfig
        from tei_chunker_spark.operators.extract import extract_pipeline

        job = JobConfig(
            chunker=ChunkerConfig(self.args.max_chunk, self.args.overlap),
            shuffle_partitions=self.args.partitions,
        )
        path = os.path.join(out, "spans")

        def extract():
            with self.tracer.span("operators.extract.extract_pipeline"):
                spans = extract_pipeline(self.spark.read.parquet(source), job)
            with self.tracer.span("spark.write"):
                spans.write.mode("overwrite").parquet(path)

        t0 = time.time()
        self.action(f"job{i}:extract", "extract", extract)
        return {"wall_s": time.time() - t0}, {"spans": path}


class ResumeNarrow(Workload):
    def run(self, i, out: str, source: str):
        from tei_chunker_spark.config import ChunkerConfig, JobConfig
        from tei_chunker_spark.manifest import run_resumable

        job = JobConfig(
            chunker=ChunkerConfig(self.args.max_chunk, self.args.overlap),
            shuffle_partitions=self.args.partitions,
            num_buckets=self.args.buckets,
        )
        paths = {"spans": os.path.join(out, "spans"), "manifest": os.path.join(out, "manifest")}

        def call(fail_after):
            return lambda: run_resumable(
                self.spark,
                source,
                paths["spans"],
                paths["manifest"],
                job,
                job_id=f"bench-{i}",
                wave_size=self.args.wave_size,
                fail_after_waves=fail_after,
            )

        t0 = time.time()
        try:
            self.action(f"job{i}:crash", "manifest.run_resumable", call(self.args.crash_after))
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        else:
            raise RuntimeError("run_resumable did not stop at the injected failure")
        t1 = time.time()
        self.action(f"job{i}:resume", "manifest.run_resumable", call(None))
        t2 = time.time()
        return {"wall_s": t2 - t0, "resume_s": t2 - t1}, paths


class DedupNear(Workload):
    def run(self, i, out: str, source: str):
        from tei_chunker_spark.operators.dedup import canonical_assignment, minhash_lsh_pairs

        paths = {"pairs": os.path.join(out, "pairs"), "labels": os.path.join(out, "labels")}

        def pairs():
            docs = self.spark.read.parquet(source)
            with self.tracer.span("operators.dedup.minhash_lsh_pairs"):
                found = minhash_lsh_pairs(docs, threshold=self.args.threshold)
            with self.tracer.span("spark.write"):
                found.write.mode("overwrite").parquet(paths["pairs"])

        def components():
            docs = self.spark.read.parquet(source)
            with self.tracer.span("operators.dedup.canonical_assignment"):
                labels = canonical_assignment(docs, self.spark.read.parquet(paths["pairs"]))
            with self.tracer.span("spark.write"):
                labels.write.mode("overwrite").parquet(paths["labels"])

        t0 = time.time()
        self.action(f"job{i}:pairs", "pairs", pairs)
        t1 = time.time()
        self.action(f"job{i}:cc", "components", components)
        t2 = time.time()
        return {"wall_s": t2 - t0, "pairs_s": t1 - t0, "cc_s": t2 - t1}, paths


WORKLOADS = {"extract_wide": ExtractWide, "resume_narrow": ResumeNarrow, "dedup_near": DedupNear}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--master", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--burnin-jobs", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--jobs", type=int, required=True)
    ap.add_argument("--partitions", type=int, required=True)
    ap.add_argument("--max-chunk", type=int, default=0)
    ap.add_argument("--overlap", type=int, default=0)
    ap.add_argument("--buckets", type=int, default=0)
    ap.add_argument("--wave-size", type=int, default=0)
    ap.add_argument("--crash-after", type=int, default=0)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from tei_chunker_spark.sources.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", master=args.master, shuffle_partitions=args.partitions)
    t1 = time.time()
    counters = SparkCounters(spark)
    result = {"session_start_s": t1 - t0, "jobs": [], "failures": []}
    burnin = WORKLOADS[args.workload](spark, args, Tracer(False), counters)
    result["burnin_walls"] = []
    for k in range(args.burnin_jobs):
        t = time.time()
        try:
            burnin.run(f"burnin{k}", os.path.join(args.out, f"burnin{k}"), args.input)
        except Exception:
            result["failures"].append({"index": f"burnin{k}", "error": traceback.format_exc()})
        result["burnin_walls"].append(time.time() - t)
    result["setup_s"] = time.time() - t0
    if args.trace:
        result["burnin_counters"] = [counters.read(g) for g in burnin.groups]

    for i in range(1, args.jobs + 1):
        traced = bool(args.trace) and i % 2 == 0
        tracer = Tracer(traced)
        workload = WORKLOADS[args.workload](spark, args, tracer, counters)
        record = {"index": i, "traced": traced}
        try:
            (cpu0, jit0), steal0 = tree_cpu_s(), host_steal_s()
            with tracer.span("job", index=i):
                timings, outputs = workload.run(i, os.path.join(args.out, f"job{i}"), args.input)
            cpu1, jit1 = tree_cpu_s()
            timings.update(
                cpu_s=(cpu1 - jit1) - (cpu0 - jit0), jit_s=jit1 - jit0, steal_s=host_steal_s() - steal0
            )
            record.update(timings, outputs=outputs)
            if traced:
                record["counters"] = {g: counters.read(g) for g in workload.groups}
                record["spans"] = tracer.spans
        except Exception:
            result["failures"].append({"index": i, "error": traceback.format_exc()})
        result["jobs"].append(record)

    if args.trace and args.workload != "dedup_near":
        from tei_chunker_spark.operators.extract import reassembled

        t = time.time()
        reassembled(spark.read.parquet(args.input)).write.format("noop").mode(
            "overwrite"
        ).save()
        result["reassemble_s"] = time.time() - t
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
