"""Expected outputs for the extraction workloads, independent of the product.

The extraction pipeline must reproduce the upstream tei-chunker
``HierarchicalChunker`` (``parse_grobid_xml`` + ``chunk_document``)
character for character.  This module re-states that algorithm in the
upstream's own shape -- a ``Section`` class whose ``full_content`` is
rendered recursively, ``findall``/``find`` element queries and a recursive
``process_section`` pack loop -- so it shares no code and no optimisation
with ``tei_chunker_spark.core`` (which uses immutable tuples, a render memo
and an explicit-stack walk).  A change to the product's chunker that alters
a single character therefore shows up as a mismatch here.

Media passthrough follows FIXTURES.md section 1.2: text chunks first, then
one ``media_ref`` span per input ``media`` span in input-offset order.
"""
from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import List, Optional, Sequence, Tuple

NS = {"tei": "http://www.tei-c.org/ns/1.0"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[1] if "}" in tag else tag


class Section:
    def __init__(self, title: str, content: str, level: int) -> None:
        self.title = title
        self.content = content
        self.level = level
        self.subsections: List["Section"] = []

    @property
    def full_content(self) -> str:
        parts = [f"{'#' * self.level} {self.title}\n\n{self.content}"]
        parts.extend(sub.full_content for sub in self.subsections)
        return "\n\n".join(parts)


def _element_text(element: Optional[ET.Element]) -> str:
    """Stripped text/tail pieces, " "-joined; a direct ``formula`` child is
    rendered ``$$text$$`` and a direct ``ref`` child ``[text]`` (their own
    children ignored); any other child contributes its recursive text."""
    if element is None:
        return ""
    parts: List[str] = []
    if element.text and element.text.strip():
        parts.append(element.text.strip())
    for child in element:
        tag = _local(child.tag)
        if tag == "formula":
            parts.append(f"$${(child.text or '').strip()}$$")
        elif tag == "ref":
            parts.append(f"[{(child.text or '').strip()}]")
        else:
            inner = _element_text(child)
            if inner:
                parts.append(inner)
        if child.tail and child.tail.strip():
            parts.append(child.tail.strip())
    return " ".join(parts)


def _process_divs(element: ET.Element, level: int) -> List[Section]:
    sections = []
    for div in element.findall("./tei:div", NS):
        head = div.find("./tei:head", NS)
        # The head's own leading text, unstripped; nested markup is dropped.
        title = head.text if head is not None and head.text else "Untitled Section"
        content = []
        for child in div:
            if _local(child.tag) in ("p", "formula"):
                text = _element_text(child)
                if text:
                    content.append(text)
        section = Section(title, "\n\n".join(content), level)
        section.subsections = _process_divs(div, level + 1)
        sections.append(section)
    return sections


def parse_grobid_xml(xml_text: str) -> List[Section]:
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return []
    sections: List[Section] = []
    abstract = root.find(".//tei:abstract", NS)
    if abstract is not None:
        text = _element_text(abstract)
        if text:
            sections.append(Section("Abstract", text, 1))
    body = root.find(".//tei:body", NS)
    if body is not None:
        sections.extend(_process_divs(body, 1))
    return sections


def chunk_document(
    sections: Sequence[Section], max_chunk_size: int, overlap_size: int
) -> List[str]:
    chunks: List[str] = []
    current: List[str] = []
    current_size = 0

    def process_section(section: Section) -> None:
        nonlocal current, current_size
        content = section.full_content
        size = len(content)
        if size > max_chunk_size:
            if current:
                chunks.append("\n\n".join(current))
                current, current_size = [], 0
            words: List[str] = []
            words_size = 0
            for word in content.split():
                if words_size + len(word) + 1 > max_chunk_size:
                    if words:
                        chunks.append(" ".join(words))
                        # Upstream slices with ``-overlap_size // 10``, which
                        # Python reads as ``(-overlap_size) // 10``.
                        words = words[-overlap_size // 10 :]
                        words.append(word)
                        words_size = sum(len(w) + 1 for w in words)
                else:
                    words.append(word)
                    words_size += len(word) + 1
            if words:
                chunks.append(" ".join(words))
        elif current_size + size <= max_chunk_size:
            current.append(content)
            current_size += size
        else:
            if current:
                chunks.append("\n\n".join(current))
            current, current_size = [content], size
        for sub in section.subsections:
            process_section(sub)

    for section in sections:
        process_section(section)
    if current:
        chunks.append("\n\n".join(current))
    return [c for c in chunks if c.strip()]


def expected_spans(
    spans: Sequence[dict], max_chunk_size: int, overlap_size: int
) -> List[Tuple[str, Optional[str], Optional[str]]]:
    """Ordered ``(kind, text, media_ref)`` output of one input document."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    xml_text = "".join(s["text"] for s in ordered if s["kind"] == "text" and s["text"] is not None)
    out: List[Tuple[str, Optional[str], Optional[str]]] = [
        ("text", chunk, None)
        for chunk in chunk_document(parse_grobid_xml(xml_text), max_chunk_size, overlap_size)
    ]
    out.extend(("media_ref", None, s["media_ref"]) for s in ordered if s["kind"] == "media")
    return out
