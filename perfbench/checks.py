"""Output checks, run by the parent after the children exit (never timed).

Each check returns the set of input documents whose output is wrong; the
benchmark counts one operation per document per job, so a job that crashed
fails every document it was given.
"""
from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from typing import Dict, Iterable, List, Set, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _columns(path: str, names: List[str]) -> List[list]:
    table = pq.read_table(path, columns=names)
    return [table.column(n).to_pylist() for n in names]


def _sequences(table: pa.Table) -> Dict[str, List[Tuple]]:
    rows = defaultdict(list)
    for doc_id, offset, kind, text, ref in zip(*(table.column(c).to_pylist() for c in table.column_names)):
        rows[doc_id].append((offset, kind, text, ref))
    return rows


def spans(output: str, expected: pa.Table) -> Set[str]:
    """Documents whose ordered (offset, kind, text, media_ref) sequence
    differs from the expected one (missing and extra rows included)."""
    actual = pq.read_table(output, columns=expected.column_names).sort_by(
        [("doc_id", "ascending"), ("offset", "ascending")]
    )
    if actual.num_rows == expected.num_rows and all(
        actual.column(c).combine_chunks().equals(expected.column(c).combine_chunks())
        for c in expected.column_names
    ):
        return set()
    want, got = _sequences(expected), _sequences(actual)
    return {d for d in set(want) | set(got) if want.get(d) != got.get(d)}


def manifest_all_done(manifest: str, buckets: int) -> bool:
    """Every bucket's latest attempt is ``done``."""
    latest: Dict[int, Tuple[int, str]] = {}
    for bucket, attempt, status in zip(*_columns(manifest, ["bucket", "attempt", "status"])):
        if bucket not in latest or attempt > latest[bucket][0]:
            latest[bucket] = (attempt, status)
    return sorted(latest) == list(range(buckets)) and all(s == "done" for _, s in latest.values())


def _shingles(text: str) -> Set[str]:
    tokens = _WS.split(text.strip(" \t\n\x0b\f\r"))
    return {f"{a} {b}" for a, b in zip(tokens, tokens[1:])}


class _UnionFind:
    def __init__(self) -> None:
        self.parent: Dict[int, int] = {}

    def find(self, x: int) -> int:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def dedup(
    pairs_path: str, labels_path: str, texts: Dict[int, str], planted: Iterable, threshold: float
) -> Tuple[Set[int], int]:
    """(documents failing any dedup check, number of reported pairs).

    * every reported pair's exact bigram Jaccard is >= ``threshold`` and
      equals the reported value (6 decimals, as the operator rounds);
    * every document has exactly one label, equal to the minimum id of
      its component under a union-find over the reported pairs, and
      ``is_canonical`` marks exactly the documents labelled with themselves;
    * every planted exact copy has its source's label.
    """
    bad: Set[int] = set()
    a_ids, b_ids, jaccards = _columns(pairs_path, ["a_id", "b_id", "jaccard"])
    uf = _UnionFind()
    shingles = {d: _shingles(t) for d, t in texts.items()}
    for a, b, j in zip(a_ids, b_ids, jaccards):
        if a not in texts or b not in texts:
            bad.update(d for d in (a, b) if d in texts)
            continue
        sa, sb = shingles[a], shingles[b]
        true_j = round(len(sa & sb) / len(sa | sb), 6)
        if not (a < b and true_j >= threshold and abs(true_j - j) < 1e-6):
            bad.update((a, b))
        uf.union(a, b)
    seen: Dict[int, int] = {}
    for doc, canon, is_canon in zip(*_columns(labels_path, ["doc_id", "canonical_id", "is_canonical"])):
        if doc in seen or canon != uf.find(doc) or is_canon != (doc == canon):
            bad.add(doc)
        seen[doc] = canon
    bad.update(d for d in texts if d not in seen)
    for copy, source in planted:
        if seen.get(copy) != seen.get(source):
            bad.update((copy, source))
    return bad, len(a_ids)


def load_planted(corpus_dir: str) -> List[Tuple[int, int]]:
    with open(os.path.join(corpus_dir, "planted_copies.json")) as f:
        return [tuple(p) for p in json.load(f)]
