"""In-memory spans around calls into each layer, and self time per layer.

A span records name, start, end and parent.  Spans are kept in a list and
written out once, when the run ends.  A timed job's wall is split into
layer self times by sweeping its interval: an instant when Spark stages
run is shared among the layers owning those stages (``scan``, ``extract``,
``manifest``, ``dedup``); an instant inside a Spark job but between its
stages is ``scheduling``; an instant outside every Spark job is ``driver``
(plan building, driver-side Python, commit and listing work).  The parts
add up to the job's wall exactly.
"""
from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Sequence, Tuple

LAYERS = ("scan", "extract", "manifest", "dedup", "scheduling", "driver")


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only runs its body."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(record)
        self._open.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.time()
            self._open.pop()


def self_times(
    start: float,
    end: float,
    jobs: Sequence[Tuple[float, float]],
    stages: Sequence[Tuple[float, float, str]],
) -> Dict[str, float]:
    """Split ``[start, end]`` (seconds) into self time per layer, given the
    Spark job intervals and the (start, end, layer) stage intervals."""
    points = sorted(
        {start, end}
        | {t for a, b in jobs for t in (a, b) if start < t < end}
        | {t for a, b, _ in stages for t in (a, b) if start < t < end}
    )
    out = dict.fromkeys(LAYERS, 0.0)
    for lo, hi in zip(points, points[1:]):
        mid = (lo + hi) / 2
        active = [layer for a, b, layer in stages if a <= mid < b]
        if active:
            for layer in active:
                out[layer] += (hi - lo) / len(active)
        elif any(a <= mid < b for a, b in jobs):
            out["scheduling"] += hi - lo
        else:
            out["driver"] += hi - lo
    return out


def spark_intervals(
    counters: Dict, layer_of_stage
) -> Tuple[List[Tuple[float, float]], List[Tuple[float, float, str]]]:
    """Job and stage intervals (seconds) from a ``SparkCounters.read``
    result; ``layer_of_stage(stage, execution)`` names each stage's layer
    (``execution`` is the SQL execution holding the stage's job, or None)."""
    execution_of: Dict[int, Optional[Dict]] = {}
    for execution in counters["sql"]:
        for job_id in execution["jobs"]:
            execution_of[job_id] = execution
    jobs, stages = [], []
    for job in counters["jobs"]:
        jobs.append((job["submit_ms"] / 1e3, job["end_ms"] / 1e3))
        for stage in job["stages"]:
            layer = layer_of_stage(stage, execution_of.get(job["id"]))
            stages.append((stage["submit_ms"] / 1e3, stage["end_ms"] / 1e3, layer))
    return jobs, stages
