"""The repository benchmark: seeded Spark workloads with checked outputs.

    python3 perfbench/run.py --workload resume_narrow --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md for why
each was chosen and which layer metric should move which end-to-end metric):

* ``resume_narrow`` -- ``manifest.run_resumable`` with config 500/50, 16
  buckets, waves of 8, crashed after wave 1 and resumed to completion.
* ``dedup_near``    -- ``minhash_lsh_pairs`` then ``canonical_assignment``
  (connected components) over documents with near-duplicate chains.
* ``extract_wide``  -- one-shot ``extract_pipeline`` to parquet, service
  config 20000/200; the traced run adds a ``local[1]`` child for scaling.
  Not listed in BENCHMARK.json (see WORKLOADS); run it by hand.

Inputs are generated from ``--seed`` and cached under ``.perfbench/``.
Each Spark driver is a child process (``child.py``); outputs are checked
after the children exit.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1`` (which also writes every span to ``.perfbench/trace-*.json``).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from typing import Dict, List

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(REPO_ROOT, ".perfbench")
RUN_DEADLINE_S = 170.0

# Every Spark driver runs at MAIN: two task slots on a 4-core host leave
# cores for the driver JVM (planning, JIT compilation, GC) and the parent.
# At local[4] the four Python workers, the task threads and the driver
# oversubscribed the host: the same resume_narrow job took 7.5-11 s there
# and 4.4-6 s at local[2], and its runs spread past any usable bound.
MAIN = "local[2]"
SINGLE = "local[1]"

# children: (master, nominal job wall in seconds on a 4-core host).  A child
# runs round(--seconds / nominal) timed jobs, at least MIN_TIMED_JOBS: a
# count fixed by --seconds rather than a time limit, so that a slow moment
# of the host does not also move the median to earlier, colder jobs.
# burnin_jobs: set-up runs of the job on its own input.  Both listed
# workloads are many small Spark jobs whose JVM code warms over several
# runs; warm-up on a 5% corpus left the first full-size job 30-60% slower
# and 50% more CPU-hungry than the third (dedup_near: 9.3, 8.2, 6.9 s wall,
# 26, 21, 18 CPU-s), so set-up runs the job itself.  dedup_near runs it
# twice: after one run its JIT compiler still spent 15, 12 and 8 CPU-s on
# the timed jobs.
#
# extract_wide is not listed in BENCHMARK.json: two workloads of ten seeds
# on two commits is what the time budget of one comparison allows with
# runs long enough to be steady, and resume_narrow enters every layer
# extract_wide does (run_resumable calls extract_pipeline) plus the
# manifest.  It stays runnable by hand for the north-rule job and its
# local[1] -> local[2] scaling figure.
MIN_TIMED_JOBS = 3

WORKLOADS = {
    "extract_wide": {
        "corpus": "tei", "docs": 3000, "max_chunk": 20000, "overlap": 200, "partitions": 16,
        "burnin_jobs": 1, "children": [(MAIN, 3.0)], "scaling": (SINGLE, 6.0),
    },
    "resume_narrow": {
        "corpus": "tei", "docs": 2000, "max_chunk": 500, "overlap": 50, "partitions": 4,
        "buckets": 16, "wave_size": 8, "crash_after": 1,
        "burnin_jobs": 1, "children": [(MAIN, 5.0)],
    },
    "dedup_near": {
        "corpus": "dedup", "docs": 3000, "threshold": 0.5, "partitions": 4,
        "burnin_jobs": 2, "children": [(MAIN, 7.0)],
    },
}


# ------------------------------------------------------------ process tree


def _proc_table() -> Dict[int, int]:
    """pid -> ppid for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(name)] = int(fields[1])
    return table


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class TreeWatch(threading.Thread):
    """Samples the summed RSS of a child's descendants (the JVM and its
    Python workers) and remembers every descendant pid it saw."""

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.seen = set()
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            table = _proc_table()
            tree, frontier = set(), {self.root}
            while frontier:
                tree |= frontier
                frontier = {p for p, pp in table.items() if pp in frontier} - tree
            tree.discard(self.root)
            self.seen |= tree
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))
            self._stop_event.wait(0.25)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _reap(proc: subprocess.Popen, seen: set) -> None:
    """Stop the child and everything it started, and wait for them."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    deadline = time.time() + 30
    while True:
        alive = seen & set(_proc_table())
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def run_child(args: List[str], log_path: str, timeout: float) -> Dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(
        [BENCH_DIR, REPO_ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    env["TMPDIR"] = tmp
    # A fixed set of JIT compiler threads: child.py subtracts their CPU time
    # per job, which it could not do for a thread that exits mid-job.
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    result_path = args[args.index("--result") + 1]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "child.py")] + args,
            cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        watch = TreeWatch(proc.pid)
        watch.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            watch.stop()
            _reap(proc, watch.seen)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark child failed (rc={proc.returncode}):\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    result["peak_rss_mb"] = watch.peak / 1e6
    return result


# ---------------------------------------------------------------- the run


class Corpus:
    """The seeded input of one run and what its outputs must be."""

    def __init__(self, w: Dict, seed: int) -> None:
        import inputs

        cache = os.path.join(WORK_DIR, "cache")
        if w["corpus"] == "tei":
            self.dir = inputs.tei_corpus(cache, seed, w["docs"], w["max_chunk"], w["overlap"])
            self.expected = inputs.pq.read_table(os.path.join(self.dir, "expected.parquet"))
        else:
            self.dir = inputs.dedup_corpus(cache, seed, w["docs"])
            self.expected = None
        self.input = os.path.join(self.dir, "input")
        self.table = inputs.pq.read_table(self.input)
        self.n_docs = self.table.num_rows
        self.n_spans = self.expected.num_rows if self.expected is not None else 0


def run_children(w: Dict, args, corpus: Corpus, run_dir: str, deadline: float) -> Dict[str, Dict]:
    children = list(w["children"])
    if args.trace and "scaling" in w:
        children.append(w["scaling"])
    if args.seed % 2:  # alternate which parallelism level runs first
        children.reverse()
    results = {}
    for master, job_s in children:
        traced = bool(args.trace) and master == MAIN
        name = master.replace("[", "").replace("]", "")
        child_args = [
            "--workload", args.workload, "--master", master,
            "--input", corpus.input,
            "--out", os.path.join(run_dir, name), "--result", os.path.join(run_dir, f"{name}.json"),
            "--partitions", str(w["partitions"]),
            # A traced child alternates untraced and traced jobs: one more.
            "--jobs", str(max(MIN_TIMED_JOBS, round(args.seconds / job_s)) + traced),
            "--trace", str(int(traced)),
        ]
        options = ("burnin_jobs", "max_chunk", "overlap", "buckets", "wave_size", "crash_after", "threshold")
        for key in options:
            if key in w:
                child_args += [f"--{key.replace('_', '-')}", str(w[key])]
        log = os.path.join(run_dir, f"{name}.log")
        results[master] = run_child(child_args, log, deadline - time.time())
    return results


def check_outputs(w: Dict, corpus: Corpus, results: Dict[str, Dict]):
    """(attempted, failed, reported pairs): one operation per document per
    timed job."""
    import checks

    attempted = failed = n_pairs = 0
    if w["corpus"] == "dedup":
        texts = dict(zip(corpus.table.column("doc_id").to_pylist(), corpus.table.column("text").to_pylist()))
        planted = checks.load_planted(corpus.dir)
    for master, res in results.items():
        for f in res["failures"]:
            print(f"perfbench: {master} job {f['index']} failed:\n{f['error']}", file=sys.stderr)
        for job in res["jobs"]:
            attempted += corpus.n_docs
            if "outputs" not in job:
                failed += corpus.n_docs
                continue
            out = job["outputs"]
            if w["corpus"] == "tei":
                bad = checks.spans(out["spans"], corpus.expected)
                if "manifest" in out and not checks.manifest_all_done(out["manifest"], w["buckets"]):
                    bad = set(corpus.expected.column("doc_id").to_pylist())
            else:
                bad, n_pairs = checks.dedup(out["pairs"], out["labels"], texts, planted, w["threshold"])
            failed += len(bad)
            if bad:
                print(f"perfbench: {master} job {job['index']}: {len(bad)} wrong documents, "
                      f"e.g. {sorted(bad)[:5]}", file=sys.stderr)
    return attempted, failed, n_pairs


def _untraced(child: Dict, key: str) -> List[float]:
    return [j[key] for j in child["jobs"] if not j["traced"] and key in j]


def end_to_end(corpus: Corpus, results: Dict[str, Dict], attempted: int, failed: int) -> Dict:
    """name -> (value, unit) for every end-to-end number that applies."""
    main_child = results[MAIN]
    walls = _untraced(main_child, "wall_s")
    if not walls:
        raise RuntimeError("no timed job completed")
    job_wall = statistics.median(walls)
    job_cpu = statistics.median(_untraced(main_child, "cpu_s"))
    report = {
        "setup_s": (statistics.median(r["setup_s"] for r in results.values()), "s"),
        "job_cpu_s": (job_cpu, "s"),
        "docs_per_cpu_s": (corpus.n_docs / job_cpu, "docs/cpu-s"),
        "job_wall_s": (job_wall, "s"),
        "docs_per_s": (corpus.n_docs / job_wall, "docs/s"),
        "steal_s": (statistics.median(_untraced(main_child, "steal_s")), "s"),
        "peak_rss_mb": (main_child["peak_rss_mb"], "MB"),
    }
    if corpus.n_spans:
        report["spans_per_s"] = (corpus.n_spans / job_wall, "spans/s")
    if SINGLE in results:
        walls1 = _untraced(results[SINGLE], "wall_s")
        slots = int(MAIN[len("local["):-1])
        report["scaling_efficiency"] = (statistics.median(walls1) / (slots * job_wall), "ratio")
    resumes = _untraced(main_child, "resume_s")
    if resumes:
        report["resume_s"] = (statistics.median(resumes), "s")
    report["error_rate"] = (failed / attempted, "share")
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S

    sys.path.insert(0, REPO_ROOT)
    try:
        import pyarrow  # noqa: F401
        import tei_chunker_spark.operators.extract  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    import layers

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    w = WORKLOADS[args.workload]
    corpus = Corpus(w, args.seed)
    layer_values: Dict[str, float] = {}
    if args.trace and w["corpus"] == "tei":
        layer_values.update(
            layers.core_layers(corpus.table.to_pylist(), args.seed, w["max_chunk"], w["overlap"])
        )

    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        results = run_children(w, args, corpus, run_dir, deadline)
        attempted, failed, n_pairs = check_outputs(w, corpus, results)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report = end_to_end(corpus, results, attempted, failed)

    walls = _untraced(results[MAIN], "wall_s")
    print(f"perfbench {args.workload} seed={args.seed} docs={corpus.n_docs} spans={corpus.n_spans} "
          f"attempted={attempted} failed={failed}")
    for name, (value, unit) in report.items():
        print(f"  {name:<20} {value:>14.4f} {unit}")
    print(f"  burn-in walls (s): {[round(x, 3) for x in results[MAIN]['burnin_walls']]}")
    print(f"  timed job walls (s): {[round(x, 3) for x in walls]}")
    print(f"  timed job CPU (s): {[round(x, 3) for x in _untraced(results[MAIN], 'cpu_s')]}")
    print(f"  timed job JIT CPU (s): {[round(x, 3) for x in _untraced(results[MAIN], 'jit_s')]}")
    print(f"  host steal per job (s): {[round(x, 3) for x in _untraced(results[MAIN], 'steal_s')]}")

    if args.trace:
        waves = w.get("buckets", 0) // w.get("wave_size", 1)
        layer_values.update(layers.spark_layers(args.workload, results[MAIN], waves))
        if w["corpus"] == "dedup":
            layer_values["dedup.pairs"] = float(n_pairs)
        if "scaling_efficiency" in report:
            layer_values["extract.scaling_efficiency"] = report["scaling_efficiency"][0]
        trace_path = os.path.join(WORK_DIR, f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layer_values,
                       "end_to_end": report, "children": results}, f)
        print(f"  spans and Spark counters written to {os.path.relpath(trace_path, REPO_ROOT)}")
        # A layer the workload does not enter reads 0.
        metrics = {m["name"]: (layer_values.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (report[m["name"]][0], m["unit"]) for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": float(v), "unit": unit} for name, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
