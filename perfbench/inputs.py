"""Seeded workload inputs, generated by the benchmark itself and cached.

The product ships its own corpus generator; the benchmark does not use it,
so that a change to the product cannot change what the benchmark measures.
Every input here is a pure function of ``(seed, size)``.

Two corpora:

* TEI documents in the pipeline's input shape
  ``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``:
  GROBID-style TEI (header title, abstract, nested body divs with inline
  refs/formulas/highlights, figures, a references list in ``<back>``), cut
  into 1-6 text spans with 0-3 media spans interleaved.  Exactly 1% of the
  documents are oversized (paragraphs scaled 20-40x) and exactly 1% are
  truncated mid-document, so the skew and parse-failure paths carry the
  same weight under every seed.
* Plain-text documents in the ``documents`` table shape
  ``(doc_id long, text, lang, source, n_chars)`` for near-duplicate
  detection: short word sequences over a small vocabulary, plus chains of
  near-duplicate variants (each link edits a few words of the previous one,
  so the chain ends are far apart and connected components needs several
  rounds) and planted exact copies.

Each corpus is written once per seed under ``.perfbench/cache`` together
with its expected outputs and a SHA-256 digest of every file; a cache whose
files no longer match their digest is refused.
"""
from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

import oracle

GENERATOR_VERSION = 3
INPUT_FILES = 4  # parquet files per corpus, so the scan has several splits
CHAIN_LINKS = 4  # near-duplicate variants per chain in the dedup corpus

_WORDS = (
    "model data span table figure method result neural graph query shuffle "
    "partition latent vector corpus markov entropy kernel tensor gradient "
    "sampling posterior likelihood stochastic convex sparse lattice prior "
    "embedding attention decoder encoder token chunk section abstract bound "
    "estimate variance sample error robust linear spectral cluster density "
    "der die das und mit für über les des une pour dans été el la los para "
    "con año naïve théorie größe"
).split()
_CUM = list(itertools.accumulate(1.0 / (rank + 1) for rank in range(len(_WORDS))))  # Zipf-like

_DEDUP_WORDS = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data a the "
    "join vector customer big"
).split()

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
TEI_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])
EXPECTED_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("offset", pa.int32()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


class DigestMismatch(RuntimeError):
    pass


# ---------------------------------------------------------------- TEI corpus


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, cum_weights=_CUM, k=n))


def _paragraph(rng: random.Random, scale: float) -> str:
    parts = [_words(rng, max(3, int(rng.lognormvariate(3.0, 0.55) * scale)))]
    r = rng.random()
    if r < 0.3:
        parts.append(
            f'as in <ref type="bibr" target="#b{rng.randint(0, 40)}">{rng.randint(1, 60)}</ref> '
            + _words(rng, rng.randint(2, 12))
        )
    elif r < 0.5:
        parts.append(f"<formula>{_words(rng, rng.randint(0, 4))}</formula> {_words(rng, 3)}")
    elif r < 0.6:
        parts.append(f'<hi rend="italic">{_words(rng, 2)}</hi> {_words(rng, 4)}')
    if rng.random() < 0.05:
        parts.append("p &lt; 0.05 &amp; n &gt; 10")
    return "<p>" + " ".join(parts) + "</p>"


def _div(rng: random.Random, depth: int, scale: float) -> str:
    out = ["<div>"]
    r = rng.random()
    if r < 0.75:
        out.append(f"<head>{_words(rng, rng.randint(1, 6)).title()}</head>")
    elif r < 0.8:
        out.append(f"<head>Part <hi>{_words(rng, 1)}</hi></head>")
    elif r < 0.88:
        out.append("<head/>")
    for _ in range(rng.randint(1, 4)):
        out.append(_paragraph(rng, scale))
    if rng.random() < 0.2:
        out.append(f'<formula xml:id="formula_{rng.randint(0, 9)}">{_words(rng, 3)}</formula>')
    if rng.random() < 0.15:
        out.append(f"<figure><head/><figDesc>{_words(rng, 6)}</figDesc></figure>")
    if depth < 3:
        for _ in range(rng.randint(0, 3 - depth)):
            out.append(_div(rng, depth + 1, scale))
    out.append("</div>")
    return "".join(out)


def _tei(rng: random.Random, scale: float) -> str:
    head = [
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc><titleStmt>'
        f'<title level="a" type="main">{_words(rng, rng.randint(3, 9)).title()}</title>'
        "</titleStmt></fileDesc>"
    ]
    if rng.random() < 0.7:
        head.append(
            "<profileDesc><abstract><div><p>"
            + _words(rng, rng.randint(20, 80))
            + "</p></div></abstract></profileDesc>"
        )
    head.append("</teiHeader><text><body>")
    body = [_div(rng, 1, scale) for _ in range(rng.randint(1, 5))]
    refs = "".join(
        f"<biblStruct><analytic><title>{_words(rng, 5)}</title></analytic></biblStruct>"
        for _ in range(rng.randint(0, 8))
    )
    tail = f'</body><back><div type="references"><listBibl>{refs}</listBibl></div></back></text></TEI>'
    return "".join(head) + "".join(body) + tail


def _tei_row(stream: str, i: int, kind: str) -> Dict:
    doc_id = f"doc-{i:07d}"
    rng = random.Random(f"perfbench-tei/{stream}/{i}")
    xml = _tei(rng, rng.uniform(20.0, 40.0) if kind == "oversized" else 1.0)
    if kind == "malformed":
        xml = xml[: rng.randint(len(xml) // 4, len(xml) * 3 // 4)]
    cuts = sorted(rng.sample(range(1, len(xml)), rng.randint(0, 5)))
    pieces = [xml[a:b] for a, b in zip([0] + cuts, cuts + [len(xml)])]
    spans: List[Dict] = []
    media_left = rng.randint(0, 3)
    for piece in pieces:
        spans.append({"kind": "text", "text": piece, "media_ref": None, "offset": len(spans)})
        if media_left and rng.random() < 0.5:
            media_left -= 1
            ref = f"{rng.choice(('fig', 'tbl', 'img'))}://{doc_id}/{len(spans)}"
            spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)})
    return {"doc_id": doc_id, "spans": spans}


def tei_rows(stream: str, n_docs: int) -> List[Dict]:
    rng = random.Random(f"perfbench-tei-tails/{stream}")
    tails = rng.sample(range(n_docs), 2 * (n_docs // 100))
    kinds = dict.fromkeys(tails[: n_docs // 100], "oversized")
    kinds.update(dict.fromkeys(tails[n_docs // 100 :], "malformed"))
    return [_tei_row(stream, i, kinds.get(i, "normal")) for i in range(n_docs)]


# -------------------------------------------------------------- dedup corpus


def _edit(rng: random.Random, tokens: List[str], n_edits: int) -> List[str]:
    out = list(tokens)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(_DEDUP_WORDS)
    return out


def dedup_docs(stream: str, n_base: int) -> Tuple[List[Dict], List[Tuple[int, int]]]:
    """(documents, planted exact copies as (copy_id, source_id))."""
    rng = random.Random(f"perfbench-dedup/{stream}")
    texts: List[List[str]] = [
        rng.choices(_DEDUP_WORDS, k=rng.randint(8, 90)) for _ in range(n_base)
    ]
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 40]
    for src in rng.sample(long_ids, n_base // 50):  # near-duplicate chains
        prev = texts[src]
        for _ in range(CHAIN_LINKS):
            prev = _edit(rng, prev, max(1, len(prev) // 40))
            texts.append(prev)
    copies_of = rng.sample(range(n_base), n_base // 50)  # exact copies
    first_copy = len(texts)
    texts.extend(texts[src] for src in copies_of)
    # Shuffle ids so chains and copies are not adjacent in id order.
    ids = rng.sample(range(10_000_000, 10_000_000 + 50 * len(texts)), len(texts))
    docs = [
        {
            "doc_id": ids[i],
            "text": " ".join(toks),
            "lang": rng.choice(("en", "de", "fr", "es", "zh")),
            "source": f"src{rng.randrange(20)}",
            "n_chars": len(" ".join(toks)),
        }
        for i, toks in enumerate(texts)
    ]
    planted = [(ids[first_copy + k], ids[src]) for k, src in enumerate(copies_of)]
    return docs, planted


# ------------------------------------------------------------------- caching


def _digest(directory: str) -> str:
    """SHA-256 over every file's relative path and content."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(directory)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(base, name)
            if name == "digest.sha256":
                continue
            h.update(os.path.relpath(path, directory).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _write_split(rows: List[Dict], schema: pa.Schema, directory: str, stem: str) -> None:
    step = -(-len(rows) // INPUT_FILES)
    for k in range(INPUT_FILES):
        part = rows[k * step : (k + 1) * step]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(directory, f"{stem}-{k}.parquet"),
        )


def _expected_table(rows: List[Dict], max_chunk: int, overlap: int) -> pa.Table:
    cols: Dict[str, list] = {name: [] for name in EXPECTED_SCHEMA.names}
    for row in rows:
        for offset, (kind, text, ref) in enumerate(
            oracle.expected_spans(row["spans"], max_chunk, overlap)
        ):
            cols["doc_id"].append(row["doc_id"])
            cols["offset"].append(offset)
            cols["kind"].append(kind)
            cols["text"].append(text)
            cols["media_ref"].append(ref)
    return pa.table(cols, schema=EXPECTED_SCHEMA)


def _build_tei(directory: str, seed: int, n_docs: int, max_chunk: int, overlap: int) -> None:
    rows = tei_rows(f"{seed}", n_docs)
    os.makedirs(os.path.join(directory, "input"))
    _write_split(rows, TEI_SCHEMA, os.path.join(directory, "input"), "part")
    pq.write_table(
        _expected_table(rows, max_chunk, overlap), os.path.join(directory, "expected.parquet")
    )


def _build_dedup(directory: str, seed: int, n_base: int) -> None:
    docs, planted = dedup_docs(f"{seed}", n_base)
    os.makedirs(os.path.join(directory, "input"))
    _write_split(docs, DOCS_SCHEMA, os.path.join(directory, "input"), "part")
    with open(os.path.join(directory, "planted_copies.json"), "w") as f:
        json.dump(planted, f)


def _cached(root: str, key: str, build) -> str:
    """Directory holding ``key``'s files, built on first use and verified
    against its stored digest on every later use."""
    directory = os.path.join(root, key)
    digest_file = os.path.join(directory, "digest.sha256")
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            stored = f.read().strip()
        if _digest(directory) != stored:
            raise DigestMismatch(f"input cache {directory} does not match its digest")
        return directory
    tmp = directory + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "digest.sha256"), "w") as f:
        f.write(_digest(tmp))
    if os.path.exists(directory):
        shutil.rmtree(directory)
    os.rename(tmp, directory)
    return directory


def tei_corpus(root: str, seed: int, n_docs: int, max_chunk: int, overlap: int) -> str:
    """Cache directory with ``input/`` and ``expected.parquet``
    (the expected output spans at chunk config ``max_chunk``/``overlap``)."""
    key = f"tei-v{GENERATOR_VERSION}-s{seed}-n{n_docs}-{max_chunk}_{overlap}"
    return _cached(root, key, lambda d: _build_tei(d, seed, n_docs, max_chunk, overlap))


def dedup_corpus(root: str, seed: int, n_base: int) -> str:
    """Cache directory with ``input/`` and ``planted_copies.json``."""
    key = f"dedup-v{GENERATOR_VERSION}-s{seed}-n{n_base}"
    return _cached(root, key, lambda d: _build_dedup(d, seed, n_base))
