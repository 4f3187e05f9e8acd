"""Spotting — surface-form recognition (SURVEY.md §2.2, P3-P8).

Two spotters behind one interface, both driven by a dictionary built on the
driver from the `surface_forms` dim table and **broadcast** to executors
(the north-star design: broadcast Aho-Corasick/FSA dictionary; no shuffle in
the spotting stage — it is a pure scan + UDF map):

  - FSASpotter (default, reference's default db spotter):
      token-level FSA over stemmed tokens + uppercase-sequence candidate
      spans + sub-span fallback + linear spot score + overlap resolution.
      Reference: core/src/main/scala/org/dbpedia/spotlight/db/FSASpotter.scala:23-50
      (walk), :73-144 (build, annot_prob>=0.1 threshold :108),
      DBSpotter.scala:38-93 (extract + sub-span search :59-87),
      :97-117 (score/threshold), :129-179 (overlap resolution),
      :184-197 (features), CreateSpotlightModel.scala:230-233 (weights).

  - AhoCorasickSpotter: string-level Aho-Corasick with leftmost-longest
    word-boundary filtering.
      Reference: core/.../spot/ahocorasick/AhoCorasickSpotter.scala:47-65,
      filter :118-153.

Both run inside `mapInPandas` (Arrow batches); per-document Python loops over
token arrays are the reference's own sequential algorithms — there is no
per-row Python at the DataFrame level. At 100 TB the spotting stage is
embarrassingly parallel: cost = scan + CPU, zero shuffle; dictionary memory
is bounded by the broadcast (use a DAWG/marisa trie in production for very
large dictionaries).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import chain

import array

import pandas as pd

from pyspark.sql import DataFrame

from dbpedia_spotlight_spark.model.model_tables import DEFAULT_SPOT_WEIGHTS
from dbpedia_spotlight_spark.model.schemas import SPOTS_SCHEMA
from dbpedia_spotlight_spark.operators.tokenizer import (
    DEFAULT_STOPWORDS,
    context_windows,
    stem,
    tokenize_text,
    window_of,
    with_ctx_id,
)

_NUM_RE = re.compile(r"^[0-9]+$")
# ref DBSpotter.scala:23-29 — ([A-Z][^ ,!?.:;]*[ ]?)+ over raw tokens
_UPPER_START = re.compile(r"^[A-Z]")

TYPE_ORDER = ("Capital_Sequences", "m")  # ref FSASpotter.scala:52


# ---------------------------------------------------------------------------
# Dictionary structures (driver-built, broadcast)
# ---------------------------------------------------------------------------

class CompactStats:
    """Read-only mapping sf -> (annotated_count, total_count) backed by one
    interning dict + two flat array.array('q') columns — drops the
    per-entry tuple/int objects of a plain dict (~80 bytes/sf at 1M
    surface forms). array.array, not numpy: scalar indexing must stay at
    C-dict speed because spot_score sits in the sub-span search hot loop
    (numpy scalar reads cost ~1us each and measurably slowed annotate)."""

    __slots__ = ("index", "annotated", "total")

    def __init__(self, index: dict, annotated, total):
        self.index = index
        self.annotated = annotated
        self.total = total

    def get(self, sf, default=None):
        i = self.index.get(sf)
        if i is None:
            return default
        return (self.annotated[i], self.total[i])

    def keys(self):
        return self.index.keys()

    def __contains__(self, sf) -> bool:
        return sf in self.index

    def __len__(self) -> int:
        return len(self.index)


@dataclass
class SpotterDictionary:
    """Broadcast payload: sf stats map + a compact token-id FSA.

    The reference stores the FSA as flat transition arrays over interned
    token ids (FSASpotter.scala:148-181); a nested Python dict-of-dicts trie
    is several times bigger at reference scale (3.35M surface forms need 4GB
    of JVM heap for the strings alone — LingPipeSpotter.scala:36-41). Layout:

      sf_stats:  surface_form -> (annotated_count, total_count)
      token_ids: stem -> interned int id (each stem string stored once)
      root_next: array('i')[V] — state after consuming token t from the
                 root (-1 = reject); dense array because the root has one
                 edge per distinct first stem, and most walks end at step 1
      edges:     flat dict {(node << 32) | token_id: next_node} for all
                 non-root transitions (ints only, one hashtable total)
      accept:    bytearray[n_nodes] accepting-state flags
    array.array/bytearray rather than numpy: the FSA walk does scalar
    reads per token and numpy scalar indexing is ~10x slower than C-array
    indexing (it allocates a numpy scalar object per read).
    """

    sf_stats: dict
    token_ids: dict
    root_next: "array.array"
    edges: dict
    accept: bytearray
    min_annotation_probability: float = 0.1

    #: bump when the on-disk layout of save() changes
    FORMAT_VERSION = 1

    def save(self, path: str) -> None:
        """Persist the built dictionary next to the model tables so jobs
        LOAD it instead of rebuilding the FSA from `surface_forms` on
        every cold start (the reference persists exactly this artifact —
        index/.../db/CreateSpotlightModel.scala:226-228 writes
        fsa_dict.mem). The payload is the compact flat layout itself
        (interning dicts + array.array/bytearray), so load cost is one
        unpickle — no re-stemming, no re-interning. Local filesystem
        path; on a cluster, place it on shared storage and ship it with
        --files (it is broadcast from the driver either way)."""
        import pickle

        payload = {
            "format": self.FORMAT_VERSION,
            "min_annotation_probability": self.min_annotation_probability,
            "sf_index": self.sf_stats.index,
            "annotated": self.sf_stats.annotated,
            "total": self.sf_stats.total,
            "token_ids": self.token_ids,
            "root_next": self.root_next,
            "edges": self.edges,
            "accept": self.accept,
        }
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(payload, f, protocol=pickle.HIGHEST_PROTOCOL)
        import os

        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SpotterDictionary":
        """Inverse of save(); raises ValueError on a format mismatch
        (rebuild with the current code instead of guessing)."""
        import pickle

        with open(path, "rb") as f:
            payload = pickle.load(f)
        if payload.get("format") != cls.FORMAT_VERSION:
            raise ValueError(
                f"spotter dictionary format {payload.get('format')!r} != "
                f"expected {cls.FORMAT_VERSION} — rebuild the artifact"
            )
        return cls(
            sf_stats=CompactStats(
                payload["sf_index"], payload["annotated"], payload["total"]
            ),
            token_ids=payload["token_ids"],
            root_next=payload["root_next"],
            edges=payload["edges"],
            accept=payload["accept"],
            min_annotation_probability=payload["min_annotation_probability"],
        )

    @classmethod
    def build(
        cls,
        surface_forms_rows,
        min_annotation_probability: float = 0.1,
    ) -> "SpotterDictionary":
        """surface_forms_rows: iterable of (surface_form, annotated_count,
        total_count). FSA paths only for sfs with annotationProbability >=
        threshold (ref FSASpotter.scala:108)."""
        sf_index: dict = {}
        sf_counts: list = []
        token_ids: dict = {}
        root_edges: dict = {}  # tid -> node
        edges: dict = {}
        accept_nodes: set = set()
        n_nodes = 1  # 0 is the root
        for sf, annotated, total in surface_forms_rows:
            sf_index[sf] = len(sf_counts)
            sf_counts.append((int(annotated), int(total)))
            if annotation_probability(annotated, total) >= min_annotation_probability:
                stems = [stem(m.group(0)) for m in re.finditer(r"\w+", sf)]
                if not stems:
                    continue
                node = 0
                for s in stems:
                    tid = token_ids.setdefault(s, len(token_ids))
                    table = root_edges if node == 0 else edges
                    key = tid if node == 0 else (node << 32) | tid
                    nxt = table.get(key)
                    if nxt is None:
                        nxt = n_nodes
                        n_nodes += 1
                        table[key] = nxt
                    node = nxt
                accept_nodes.add(node)
        root_next = array.array("i", [-1]) * max(len(token_ids), 1)
        for tid, node in root_edges.items():
            root_next[tid] = node
        accept = bytearray(n_nodes)
        for node in accept_nodes:
            accept[node] = 1
        sf_stats = CompactStats(
            sf_index,
            array.array("q", (c[0] for c in sf_counts)),
            array.array("q", (c[1] for c in sf_counts)),
        )
        return cls(
            sf_stats=sf_stats,
            token_ids=token_ids,
            root_next=root_next,
            edges=edges,
            accept=accept,
            min_annotation_probability=min_annotation_probability,
        )


def annotation_probability(annotated: int, total: int) -> float:
    """ref SurfaceForm.scala:51-61 — annotated/total; 1.0 when total == -1."""
    if total <= 0:
        return 1.0
    return min(1.0, annotated / total)


def spot_features(sf: str, annotated: int, total: int) -> tuple:
    """[annot_prob, is_abbrev, is_number, bias] (ref DBSpotter.scala:184-197)."""
    is_abbrev = 1.0 if (sf.upper() == sf and len(sf) < 5 and not _NUM_RE.match(sf)) else 0.0
    is_number = 1.0 if _NUM_RE.match(sf) else 0.0
    return (annotation_probability(annotated, total), is_abbrev, is_number, 1.0)


def spot_score(sf: str, sf_stats: dict, weights) -> float:
    """ref DBSpotter.scala:97-117 — weighted dot, 0.0 for unknown sf."""
    st = sf_stats.get(sf)
    if st is None:
        return 0.0
    f = spot_features(sf, st[0], st[1])
    if weights is None:
        return f[0]
    return sum(w * x for w, x in zip(weights, f))


def surface_form_match(sf: str, sf_stats: dict, weights) -> bool:
    """ref DBSpotter.scala:112-117 — >=0.5 weighted, else annot_prob>=0.25."""
    s = spot_score(sf, sf_stats, weights)
    return s >= 0.5 if weights is not None else s >= 0.25


# ---------------------------------------------------------------------------
# Per-sentence span generation (reference algorithms, pure Python per doc)
# ---------------------------------------------------------------------------

def _fsa_spans(stems: list, dictionary: "SpotterDictionary") -> list:
    """All (start, end_exclusive) token ranges whose stem path is accepting
    (ref FSASpotter.scala:23-50), walking the compact token-id FSA."""
    spans = []
    n = len(stems)
    token_ids = dictionary.token_ids
    root_next = dictionary.root_next
    edges = dictionary.edges
    accept = dictionary.accept
    tids = [token_ids.get(s, -1) for s in stems]
    for i in range(n):
        tid = tids[i]
        if tid < 0:
            continue
        node = root_next[tid]
        j = i
        while node >= 0:
            j += 1
            if accept[node]:
                spans.append((i, j, "m"))
            if j >= n:
                break
            tid = tids[j]
            if tid < 0:
                break
            node = edges.get((node << 32) | tid, -1)
        # rejecting state or end of sentence
    return spans


def _uppercase_spans(tokens: list) -> list:
    """Maximal runs of tokens starting uppercase
    (ref DBSpotter.scala:23-29 RegexNameFinder over token array).
    The ^[A-Z] regex is a direct char-range test — inlined (one probe per
    token in the hot path; the re.match call was ~2x the loop body)."""
    spans = []
    i, n = 0, len(tokens)
    while i < n:
        if "A" <= tokens[i][0] <= "Z":
            j = i
            while j < n and "A" <= tokens[j][0] <= "Z":
                j += 1
            spans.append((i, j, "Capital_Sequences"))
            i = j
        else:
            i += 1
    return spans


def _extract_doc_spots(
    text: str,
    toks: list,
    base_offset: int,
    dictionary: SpotterDictionary,
    weights,
    generators: tuple = (),
    type_order: tuple = TYPE_ORDER,
    score_memo: dict | None = None,
) -> list:
    """DBSpotter.extract for one text span: sentences -> candidate spans ->
    sub-span search -> overlap resolution. `toks` is the span's
    tokenize_text output (the caller tokenizes each span once and also
    derives the context windows from it). Returns
    [(offset, surface_form, spot_prob, spot_type, token_stems), ...].

    `generators` injects model-based candidate-span sources (P2/P12 — the
    reference's OpenNLPSpotter.generateCandidates:40-62 adds chunker/NER
    spans on top of the uppercase sequences); when any are given, the FSA
    walk is skipped, matching the reference's OpenNLP spotter shape.
    `score_memo` is an Arrow-batch-wide cache (round-3 #8)."""
    # group into per-sentence parallel lists in one ordered pass
    # (tokenize_text emits sentences contiguously; the dict-of-tuple-lists
    # regrouping was double-handling every token)
    sentences: list = []
    cur_sent = None
    tokens = stems_ = offs = None
    for sent_id, tok, st, off, _sw, _eos in toks:
        if sent_id != cur_sent:
            cur_sent = sent_id
            tokens, stems_, offs = [], [], []
            sentences.append((tokens, stems_, offs))
        tokens.append(tok)
        stems_.append(st)
        offs.append(off)

    spots = []
    for tokens, stems_, offs in sentences:
        spans = _uppercase_spans(tokens)
        if generators:
            for g in generators:
                spans += list(g(tokens))
        else:
            spans += _fsa_spans(stems_, dictionary)
        # opennlp Span ordering: start asc, longer (end desc) first
        spans.sort(key=lambda s: (s[0], -s[1]))
        # hoisted locals: these attribute chains sit inside the per-span
        # candidate loop, the only Python-side hot path in the whole DAG
        sf_stats = dictionary.sf_stats
        threshold = 0.5 if weights is not None else 0.25
        memo_get = score_memo.get if score_memo is not None else None
        for first, end, span_type in spans:
            last = end - 1
            # sub-span search: drop left members, then right members
            # (ref DBSpotter.scala:59-87) — iterated lazily via chain: the
            # common case matches on the first (full-span) candidate, so
            # materializing both candidate lists up front was allocation
            # per span for nothing (round-3 item #8; measured at sf0.1)
            for s_tok, e_tok in chain(
                ((s, last) for s in range(first, last + 1)),
                ((first, e) for e in range(last, first - 1, -1)),
            ):
                s_off = offs[s_tok]
                e_off = offs[e_tok] + len(tokens[e_tok])
                spot = text[s_off:e_off]
                # spot strings repeat heavily across documents; memoize the
                # linear score per batch (weights are fixed for the pass)
                if memo_get is None:
                    sc = spot_score(spot, sf_stats, weights)
                else:
                    sc = memo_get(spot)
                    if sc is None:
                        sc = spot_score(spot, sf_stats, weights)
                        score_memo[spot] = sc
                if sc >= threshold:  # ref DBSpotter.scala:112-117
                    spots.append(
                        (
                            base_offset + s_off,
                            spot,
                            sc,
                            span_type,
                            # ref DBSpotter.scala:82 slice(startToken, lastToken)
                            tuple(stems_[s_tok:last]),
                        )
                    )
                    break
    return drop_overlapping_spots(spots, type_order)


def _type_rank(type_order: tuple, spot_type: str) -> int:
    try:
        return type_order.index(spot_type)
    except ValueError:
        return len(type_order)


def drop_overlapping_spots(spots: list, type_order: tuple = TYPE_ORDER) -> list:
    """Sequential conflict resolution (exact semantics of
    ref DBSpotter.scala:129-179, including its `remove += i-1` quirk: when
    the new spot beats the *tracked* lastSpot, the reference removes the
    literal previous index — which may already be removed — so on chains of
    >=3 overlapping spots an earlier survivor can be kept alongside the new
    winner). spots: (offset, sf, prob, type[, stems]).
    Dedup key = (offset, sf) (SurfaceFormOccurrence identity)."""
    seen: dict = {}
    for s in spots:
        seen.setdefault((s[0], s[1]), s)
    sorted_spots = sorted(seen.values(), key=lambda s: (s[0], len(s[1])))
    remove = set()
    last = None
    for i, spot in enumerate(sorted_spots):
        if last is not None and _intersects(last, spot):
            spot_better_type = _type_rank(type_order, spot[3]) < _type_rank(
                type_order, last[3]
            )
            spot_longer = len(spot[1]) > len(last[1])
            if spot_longer and spot[2] > last[2] / 2.0:
                remove.add(i - 1)
                last = spot
            elif not spot_longer and not (spot[2] > last[2] * 2.0):
                remove.add(i)
            elif spot[2] == last[2] and spot_better_type:
                remove.add(i - 1)
                last = spot
            elif spot[2] == last[2] and not spot_better_type:
                remove.add(i)
            elif spot[2] > last[2]:
                remove.add(i - 1)
                last = spot
            else:
                remove.add(i)
        else:
            last = spot
    return [s for i, s in enumerate(sorted_spots) if i not in remove]


def _intersects(a: tuple, b: tuple) -> bool:
    """Span overlap (ref SurfaceFormOccurrence.scala:64-83)."""
    a0, a1 = a[0], a[0] + len(a[1])
    b0, b1 = b[0], b[0] + len(b[1])
    return a0 < b1 and b0 < a1


# ---------------------------------------------------------------------------
# String-level Aho-Corasick (P8)
# ---------------------------------------------------------------------------

class AhoCorasick:
    """Plain goto/fail/output automaton over characters; leftmost-longest
    word-boundary matches (ref AhoCorasickSpotter.scala:47-65, :118-153)."""

    def __init__(self, patterns):
        self.goto: list = [{}]
        self.fail: list = [0]
        self.out: list = [[]]
        for p in patterns:
            self._insert(p)
        self._build_failure()

    def _insert(self, pattern: str) -> None:
        node = 0
        for ch in pattern:
            nxt = self.goto[node].get(ch)
            if nxt is None:
                nxt = len(self.goto)
                self.goto.append({})
                self.fail.append(0)
                self.out.append([])
                self.goto[node][ch] = nxt
            node = nxt
        self.out[node].append(len(pattern))

    def _build_failure(self) -> None:
        from collections import deque

        q = deque()
        for nxt in self.goto[0].values():
            q.append(nxt)
        while q:
            node = q.popleft()
            for ch, nxt in self.goto[node].items():
                q.append(nxt)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0)
                if self.fail[nxt] == nxt:
                    self.fail[nxt] = 0
                self.out[nxt] = self.out[nxt] + self.out[self.fail[nxt]]

    def find_all(self, text: str):
        """Yield (start, end) of every dictionary hit."""
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for plen in self.out[node]:
                yield (i + 1 - plen, i + 1)


_WORD_CHAR = re.compile(r"\w", re.UNICODE)


def _word_bounded(text: str, s: int, e: int) -> bool:
    if s > 0 and _WORD_CHAR.match(text[s - 1]) and _WORD_CHAR.match(text[s]):
        return False
    if e < len(text) and _WORD_CHAR.match(text[e - 1]) and _WORD_CHAR.match(text[e]):
        return False
    return True


def leftmost_longest(matches: list) -> list:
    """Keep leftmost-longest non-overlapping matches
    (ref AhoCorasickSpotter.scala:118-153)."""
    matches = sorted(matches, key=lambda m: (m[0], -(m[1] - m[0])))
    kept, last_end = [], -1
    for s, e in matches:
        if s >= last_end:
            kept.append((s, e))
            last_end = e
    return kept


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

def _collect_dictionary(
    surface_forms: DataFrame, min_annotation_probability: float = 0.1
) -> SpotterDictionary:
    # Stream rows through the driver instead of materializing a Python row
    # list: at 10M+ surface forms the .collect() list (Row objects, ~10x the
    # payload) dominated driver RSS, dwarfing the ~147 MB compact FSA the
    # build produces. toLocalIterator fetches one partition at a time, so
    # peak overhead is one partition's rows, not the whole table.
    rows = surface_forms.select(
        "surface_form", "annotated_count", "total_count"
    ).toLocalIterator(prefetchPartitions=True)
    return SpotterDictionary.build(
        ((r[0], r[1], r[2]) for r in rows),
        min_annotation_probability=min_annotation_probability,
    )


def spot_documents(
    documents: DataFrame,
    surface_forms: DataFrame,
    weights=DEFAULT_SPOT_WEIGHTS,
    stopwords: frozenset = DEFAULT_STOPWORDS,
    spotter: str = "fsa",
    min_annotation_probability: float = 0.1,
    generators: tuple = (),
    type_order: tuple = TYPE_ORDER,
    dictionary: SpotterDictionary | None = None,
    max_context_tokens: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> spots (SPOTS_SCHEMA). One mapInPandas pass;
    dictionary broadcast; media spans skipped (order preserved via span_pos).
    `generators` (P2/P12) inject model-based candidate-span sources; they are
    broadcast with the dictionary, so each must be picklable.
    `dictionary` injects a prebuilt/loaded SpotterDictionary (see
    SpotterDictionary.save/load), skipping the per-job driver-side FSA
    build from `surface_forms`; its persisted annotation-probability
    threshold wins over min_annotation_probability.
    With max_context_tokens set, each spot also carries the ctx_id of its D2
    window (SPOTS_SCHEMA + ctx_id), cut from the same tokens and by the same
    rule as tokenize_documents(max_context_tokens=...)."""
    spark = documents.sparkSession
    window = max_context_tokens or None
    schema = with_ctx_id(SPOTS_SCHEMA) if window else SPOTS_SCHEMA
    if dictionary is None:
        dictionary = _collect_dictionary(
            surface_forms, min_annotation_probability
        )
    if spotter == "ahocorasick":
        automaton = AhoCorasick(list(dictionary.sf_stats.keys()))
    else:
        automaton = None
    bc = spark.sparkContext.broadcast(
        (dictionary, automaton, weights, stopwords, tuple(generators), type_order)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dic, ac, w, sw, gens, torder = bc.value
        token_memo: dict = {}  # token -> (stem, is_stopword), batch-wide
        # the FSA spotter walks the tokens; Aho-Corasick needs them only
        # to cut context windows
        tokenize = ac is None or window
        for pdf in batches:
            score_memo: dict = {}
            rows = {f.name: [] for f in schema.fields}
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                texts = [
                    (span_pos, int(sp["offset"] or 0), sp["text"])
                    for span_pos, sp in enumerate(spans)
                    if sp["kind"] == "text" and sp["text"] is not None
                ]
                toks = [
                    tokenize_text(text, sw, token_memo) if tokenize else None
                    for _, _, text in texts
                ]
                if window:
                    starts = context_windows(
                        [base + t[3] for (_, base, _), ts in zip(texts, toks)
                         for t in ts],
                        window,
                    )
                    names = [f"{doc_id}#{i}" for i in range(len(starts))]
                for (span_pos, base, text), span_toks in zip(texts, toks):
                    if ac is not None:
                        hits = [
                            (s, e)
                            for s, e in ac.find_all(text)
                            if _word_bounded(text, s, e)
                        ]
                        found = [
                            (
                                base + s,
                                text[s:e],
                                spot_score(text[s:e], dic.sf_stats, w),
                                "m",
                                (),
                            )
                            for s, e in leftmost_longest(hits)
                        ]
                    else:
                        found = _extract_doc_spots(
                            text, span_toks, base, dic, w, gens, torder,
                            score_memo,
                        )
                    for off, sf, prob, st, stems_ in found:
                        rows["doc_id"].append(doc_id)
                        rows["span_pos"].append(span_pos)
                        rows["offset"].append(off)
                        rows["surface_form"].append(sf)
                        rows["spot_prob"].append(float(prob))
                        rows["spot_type"].append(st)
                        rows["token_stems"].append(list(stems_))
                        if window:
                            rows["ctx_id"].append(names[window_of(starts, off)])
            # an empty dict-of-lists frame has float64 columns that Arrow
            # cannot convert to list<string>; a batch without spots yields none
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return documents.select("doc_id", "spans").mapInPandas(run, schema)
