"""Output checks and quality against gold.

A document fails when any output row of it breaks an invariant:
- its offset and surface form match the document's text stream;
- its URI is in the KB;
- its scores lie in [0, 1];
- it is the only link for its spot.
"""

from __future__ import annotations

import math
from collections import Counter

DOC_PREFIX = "http://example.org/doc/"
RESOURCE_PREFIX = "http://dbpedia.org/resource/"
IDENT_REF = "http://www.w3.org/2005/11/its/rdf#taIdentRef"
CONFIDENCE = "http://www.w3.org/2005/11/its/rdf#taConfidence"
ANCHOR_OF = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf"


def _unit_score(x) -> bool:
    return x is not None and not math.isnan(x) and 0.0 <= x <= 1.0


def _text_at(spans: list, offset: int, length: int, span_pos: int | None = None):
    """Text of the document's text stream at [offset, offset+length), or
    None when no single text span covers it (or span_pos names another)."""
    for pos, sp in enumerate(spans):
        if sp["kind"] != "text" or (span_pos is not None and pos != span_pos):
            continue
        local = offset - sp["offset"]
        if 0 <= local and local + length <= len(sp["text"]):
            return sp["text"][local : local + length]
    return None


class Checker:
    """Accumulates failed documents and the invariant each one broke."""

    def __init__(self, documents: list, uris: list):
        self.spans = {d["doc_id"]: d["spans"] for d in documents}
        self.uris = set(uris)
        self.failed: set = set()
        self.problems: Counter = Counter()

    def fail(self, doc_id: str, why: str) -> None:
        self.failed.add(doc_id)
        self.problems[why] += 1

    def annotations(self, rows: list) -> dict:
        """Checks annotate() rows; returns {(doc_id, offset): uri}."""
        links, seen = {}, set()
        for r in rows:
            doc, key = r["doc_id"], (r["doc_id"], r["span_pos"], r["offset"])
            if key in seen:
                self.fail(doc, "two links for one spot")
            seen.add(key)
            sf = r["surface_form"]
            spans = self.spans.get(doc)
            if spans is None or _text_at(spans, r["offset"], len(sf), r["span_pos"]) != sf:
                self.fail(doc, "offset/surface_form off the text stream")
            if r["uri"] not in self.uris:
                self.fail(doc, "uri not in KB")
            if not (_unit_score(r["similarity_score"]) and _unit_score(r["contextual_score"])):
                self.fail(doc, "score outside [0, 1]")
            links[(doc, r["offset"])] = r["uri"]
        return links

    def triples(self, rows: list) -> dict:
        """Checks NIF mention triples (subj, pred, obj); returns
        {(doc_id, offset): uri}."""
        by_subj: dict = {}
        for subj, pred, obj in rows:
            by_subj.setdefault(subj, []).append((pred, obj))
        links = {}
        for subj, po in by_subj.items():
            doc, _, chars = subj[len(DOC_PREFIX):].partition("#char=")
            start, end = (int(x) for x in chars.split(","))
            preds = Counter(p for p, _ in po)
            vals = dict(po)
            if preds != Counter({IDENT_REF: 1, ANCHOR_OF: 1, CONFIDENCE: 1}):
                self.fail(doc, "two links for one spot")
                continue
            uri = vals[IDENT_REF][len(RESOURCE_PREFIX):]
            spans = self.spans.get(doc)
            if spans is None or _text_at(spans, start, end - start) != vals[ANCHOR_OF]:
                self.fail(doc, "offset/surface_form off the text stream")
            if uri not in self.uris:
                self.fail(doc, "uri not in KB")
            if not _unit_score(float(vals[CONFIDENCE])):
                self.fail(doc, "score outside [0, 1]")
            links[(doc, start)] = uri
        return links


def link_quality(links: dict, gold: list, doc_ids: set | None = None) -> tuple:
    """(precision, recall) of {(doc_id, offset): uri} against gold anchors,
    restricted to `doc_ids` when given."""
    want = {
        (g["doc_id"], g["offset"]): g["uri"]
        for g in gold
        if doc_ids is None or g["doc_id"] in doc_ids
    }
    hit = sum(want.get(k) == u for k, u in links.items())
    return hit / max(1, len(links)), hit / max(1, len(want))


def dup_quality(flagged: set, planted: set) -> tuple:
    """(precision, recall) of the documents a dedup pass dropped."""
    hit = len(flagged & planted)
    return hit / max(1, len(flagged)), hit / max(1, len(planted))
