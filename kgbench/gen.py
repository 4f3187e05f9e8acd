"""Seeded input generator for the KG-construction benchmark.

Everything a workload reads is made here from one integer seed, with no
Spark and no library import, so the program under test receives only
these inputs:

- a KB of entities whose capitalised surface forms are ambiguous (one
  surface form names up to three entities), each entity with its own
  lowercase topic words;
- a training corpus with gold anchors, from which the model is built;
- interleaved text+media documents (the `spans` schema) whose mentions
  follow a Zipf popularity over entities, with the gold anchor of every
  mention;
- for `kg_build`, a raw corpus of long documents with planted exact,
  near-duplicate and paraphrase copies, one clump of near-identical pages
  larger than the LSH bucket cap, and one clustered embedding per
  document with the fixed centroid matrix that quantizes them.

Filler and topic words are lowercase and share no word with the surface
forms, and sentences start lowercase, so every spot the spotters can emit
is a gold mention. `python3 kgbench/gen.py [seed]` runs the self-check.
"""

from __future__ import annotations

import copy
import hashlib
import json
import math
import random
import sys

# Token budget of one context window (library default max_context_tokens).
WINDOW_TOKENS = 250
# The reference REST layer windows inputs over 1200 characters.
SHORT_DOC_MAX_CHARS = 1200

KB_PARAMS = {
    "entities": 160,
    "surface_forms": 70,
    "topic_words": 6,
    "filler_words": 240,
    "zipf_s": 1.0,
    "train_docs_base": 4,
    "train_docs_head": 40,
}

SHORT_PARAMS = {"docs": 400, "tokens_per_doc": (90, 140), "entities_per_segment": 2}

KG_PARAMS = {
    "base_docs": 12,
    "tokens_per_doc": (1550, 2500),
    # many entities per window, so mentions are near independent draws and
    # prior-only link quality varies little from seed to seed
    "entities_per_segment": 25,
    # planted groups: (originals, copies per original)
    "near_dup": (4, 2),
    "exact_dup": (3, 1),
    "paraphrase": (3, 1),
    "clump": 24,
    "clump_tokens": 60,
    "lsh_bucket_cap": 16,
    "dim": 32,
    "cells": 6,
    "cell_noise": 0.22,
    "copy_noise": 0.01,
    "cosine_threshold": 0.9,
    "num_buckets": 4,
    "wave_size": 2,
    # subject buckets of the triple sink (the job's default of 64 writes
    # 192 files of ~30 rows each for a corpus this size)
    "triple_buckets": 8,
}

_ONSETS = "b c d f g h j k l m n p r s t v z br dr gr kl pl st tr".split()
_VOWELS = "a e i o u ai ei ou".split()


def _word_pool(rng: random.Random, n: int, taken: set) -> list:
    """n distinct pseudo-words of 2-3 syllables, none already in `taken`."""
    out = []
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.choice((2, 2, 3)))
        )
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def make_kb(seed: int, p: dict = KB_PARAMS) -> dict:
    """Entities, surface forms and vocabularies. Entity i has popularity
    rank i (entity 0 is the head)."""
    rng = random.Random(seed * 7919 + 1)
    taken: set = set()
    filler = _word_pool(rng, p["filler_words"], taken)
    n_e, n_sf = p["entities"], p["surface_forms"]
    topics = [_word_pool(rng, p["topic_words"], taken) for _ in range(n_e)]
    # one or two capitalised words per surface form, no word shared by two
    # forms (so no sub-span or coreference match crosses forms)
    sfs = [
        " ".join(w.capitalize() for w in _word_pool(rng, rng.choice((1, 1, 2)), taken))
        for _ in range(n_sf)
    ]
    # entity e (popularity rank e) is a sense of form e % n_sf, so form k
    # names ranks k, k+n_sf, k+2*n_sf...: the ambiguity structure, and with
    # it the share of mentions a prior-only linker gets right, is the same
    # for every seed
    sf_of: list = [[sfs[e % n_sf]] for e in range(n_e)]
    # every fourth entity also has an unambiguous alias
    for e, w in zip(range(3, n_e, 4), _word_pool(rng, n_e // 4, taken)):
        sf_of[e].append(w.capitalize())
    return {
        "params": dict(p),
        "uris": [f"Ent_{e:04d}_{topics[e][0].capitalize()}" for e in range(n_e)],
        "sf_of": sf_of,
        "topics": topics,
        "filler": filler,
        "popularity": [1.0 / (r + 1) ** p["zipf_s"] for r in range(n_e)],
    }


class _Writer:
    """Builds one document's text spans with media spans interleaved,
    tracking global text-stream offsets and the gold anchors."""

    def __init__(self, doc_id: str, rng: random.Random, media_every: int):
        self.doc_id, self.rng, self.media_every = doc_id, rng, media_every
        self.spans: list = []
        self.gold: list = []
        self.cur: list = []  # words of the open text span
        self.cur_start = 0  # global offset of the open span
        self.cur_len = 0
        self.n_tokens = 0
        self.sentences = 0

    def _emit(self, w: str) -> int:
        if self.cur:
            self.cur_len += 1
        off = self.cur_start + self.cur_len
        self.cur.append(w)
        self.cur_len += len(w)
        return off

    def sentence(self, kb: dict, entity: int | None, length: int,
                 sf: str | None = None) -> None:
        """One sentence of filler words; with `entity`, three of its topic
        words and one mention (of `sf`, or of a random form of it)."""
        rng = self.rng
        words = [rng.choice(kb["filler"]) for _ in range(length)]
        pos = -1
        if entity is not None:
            for i in rng.sample(range(1, length), min(3, length - 1)):
                words[i] = rng.choice(kb["topics"][entity])
            pos = rng.randrange(1, length)
            sf = sf or rng.choice(kb["sf_of"][entity])
        else:
            sf = ""
        for i, w in enumerate(words):
            if i == pos:
                self.gold.append(
                    {
                        "doc_id": self.doc_id,
                        "span_pos": len(self.spans),
                        "offset": self._emit(sf),
                        "surface_form": sf,
                        "uri": kb["uris"][entity],
                    }
                )
            self._emit(w)
        self.cur[-1] += "."
        self.cur_len += 1
        self.n_tokens += length + len(sf.split())
        self.sentences += 1
        if self.media_every and self.sentences % self.media_every == 0:
            self.close_text(media=True)

    def close_text(self, media: bool = False) -> None:
        if self.cur:
            text = " ".join(self.cur)
            self.spans.append(
                {"kind": "text", "text": text, "media_ref": None,
                 "offset": self.cur_start}
            )
            # one separator char between text spans keeps offsets disjoint
            self.cur_start += len(text) + 1
            self.cur, self.cur_len = [], 0
        if media:
            self.spans.append(
                {"kind": "media", "text": None,
                 "media_ref": f"img://{self.doc_id}/{len(self.spans)}",
                 "offset": self.cur_start}
            )

    def doc(self) -> dict:
        self.close_text()
        return {"doc_id": self.doc_id, "spans": self.spans}


def _pick_entity(kb: dict, rng: random.Random) -> int:
    return rng.choices(range(len(kb["uris"])), weights=kb["popularity"])[0]


def make_training(kb: dict, seed: int) -> dict:
    """Training docs about one entity each; the doc count per entity
    follows popularity, so priors and support are Zipf-skewed. Every
    mention is an anchor. Each doc mentions its entity three times,
    cycling through its forms, so every anchor count, and with it which
    sense of a form has the higher prior, is the same for every seed."""
    rng = random.Random(seed * 7919 + 2)
    p = kb["params"]
    docs, occs = [], []
    for e, pop in enumerate(kb["popularity"]):
        forms = kb["sf_of"][e]
        for k in range(p["train_docs_base"] + round(p["train_docs_head"] * pop)):
            w = _Writer(f"t{e:04d}_{k:03d}", rng, media_every=3)
            for i in range(5):
                mention = i % 2 == 0
                w.sentence(kb, e if mention else None, rng.randint(8, 12),
                           forms[(3 * k + i // 2) % len(forms)] if mention else None)
            docs.append(w.doc())
            occs.extend(w.gold)
    return {"documents": docs, "occurrences": occs}


def make_docs(
    kb: dict, rng: random.Random, n_docs: int, tokens_per_doc: tuple,
    entities_per_segment: int, prefix: str,
) -> tuple:
    """Interleaved documents of about `tokens_per_doc` tokens. Every
    window's worth of tokens the doc switches to a fresh set of entities,
    so long docs carry different contexts in different windows."""
    # evenly spaced lengths keep the token volume the same for every seed
    lo, hi = tokens_per_doc
    targets = [lo + (hi - lo) * i // max(1, n_docs - 1) for i in range(n_docs)]
    rng.shuffle(targets)
    docs, gold = [], []
    for d, target in enumerate(targets):
        w = _Writer(f"{prefix}{d:05d}", rng, media_every=4)
        ents: list = []
        seg_end = 0
        while w.n_tokens < target:
            if w.n_tokens >= seg_end:
                ents = [_pick_entity(kb, rng) for _ in range(entities_per_segment)]
                seg_end = w.n_tokens + WINDOW_TOKENS
            w.sentence(kb, rng.choice(ents) if rng.random() < 0.8 else None,
                       rng.randint(8, 13))
        docs.append(w.doc())
        gold.extend(w.gold)
    return docs, gold


def _swap_fillers(doc: dict, kb: dict, rng: random.Random, n: int | None) -> dict:
    """Copy of `doc` with n filler words (all when n is None) replaced by
    other filler words of the same length, so offsets and gold stay put."""
    by_len: dict = {}
    for w in kb["filler"]:
        by_len.setdefault(len(w), []).append(w)
    filler = set(kb["filler"])
    out = copy.deepcopy(doc)
    slots = [
        (si, wi)
        for si, sp in enumerate(out["spans"]) if sp["kind"] == "text"
        for wi, w in enumerate(sp["text"].split(" ")) if w.rstrip(".") in filler
    ]
    for si, wi in (slots if n is None else rng.sample(slots, n)):
        words = out["spans"][si]["text"].split(" ")
        w = words[wi].rstrip(".")
        alts = [a for a in by_len[len(w)] if a != w] or [w]
        words[wi] = rng.choice(alts) + words[wi][len(w):]
        out["spans"][si]["text"] = " ".join(words)
    return out


def _unit(v: list) -> list:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def make_kg_corpus(kb: dict, seed: int, p: dict = KG_PARAMS) -> dict:
    """Raw corpus for the write path. Planted groups are an original plus
    its copies: near duplicates (one filler word swapped), exact copies,
    paraphrases (every filler word swapped: low text overlap, near-equal
    embedding) and one clump of short pages that differ only in a trailing
    token. Ids are assigned after a shuffle; every group member except the
    lowest id is a planted duplicate."""
    rng = random.Random(seed * 7919 + 5)
    base, base_gold = make_docs(
        kb, rng, p["base_docs"], p["tokens_per_doc"], p["entities_per_segment"], "b"
    )
    gold_of = {d["doc_id"]: [g for g in base_gold if g["doc_id"] == d["doc_id"]]
               for d in base}
    centres = [_unit([rng.gauss(0, 1) for _ in range(p["dim"])])
               for _ in range(p["cells"])]

    def cell_vec():
        return _unit([x + rng.gauss(0, p["cell_noise"]) for x in rng.choice(centres)])

    def near_vec(v):
        return _unit([x + rng.gauss(0, p["copy_noise"]) for x in v])

    items = [(d, gold_of[d["doc_id"]], cell_vec()) for d in base]
    groups = []
    originals = iter(rng.sample(range(len(base)), len(base)))
    for kind in ("near_dup", "exact_dup", "paraphrase"):
        n_orig, n_copies = p[kind]
        for _ in range(n_orig):
            oi = next(originals)
            doc, gold, vec = items[oi]
            members = [oi]
            for _ in range(n_copies):
                if kind == "exact_dup":
                    cp = copy.deepcopy(doc)
                else:
                    cp = _swap_fillers(doc, kb, rng, 1 if kind == "near_dup" else None)
                members.append(len(items))
                items.append((cp, gold, near_vec(vec)))
            groups.append((kind, members))
    # the page names entities by their unambiguous aliases: 24 copies of an
    # ambiguous mention would move link quality by a few percent from seed
    # to seed
    aliased = [e for e, forms in enumerate(kb["sf_of"]) if len(forms) > 1]
    w = _Writer("clump", rng, media_every=0)
    while w.n_tokens < p["clump_tokens"]:
        e = rng.choice(aliased)
        w.sentence(kb, e, rng.randint(8, 13), kb["sf_of"][e][1])
    page = w.doc()
    members = []
    for i in range(p["clump"]):
        cp = copy.deepcopy(page)
        cp["spans"][-1]["text"] += f" {rng.choice(kb['filler'])}{i}"
        members.append(len(items))
        items.append((cp, w.gold, cell_vec()))
    groups.append(("clump", members))

    perm = list(range(len(items)))
    rng.shuffle(perm)
    new_id = {old: f"k{new:05d}" for new, old in enumerate(perm)}
    docs, gold, emb = [], [], []
    for old in perm:
        doc, g, vec = items[old]
        did = new_id[old]
        docs.append({"doc_id": did, "spans": doc["spans"]})
        gold.extend(dict(x, doc_id=did) for x in g)
        emb.append({"doc_id": did, "embedding": [round(x, 9) for x in vec]})
    return {
        "documents": docs,
        "gold": gold,
        "embeddings": emb,
        "centroids": [[round(x, 9) for x in c] for c in centres],
        "groups": [{"kind": k, "ids": sorted(new_id[m] for m in ms)} for k, ms in groups],
    }


def make_inputs(workload: str, seed: int) -> dict:
    """All inputs of one workload, as plain Python data."""
    kb = make_kb(seed)
    out = {"kb": kb, "training": make_training(kb, seed)}
    if workload == "annotate_short":
        rng = random.Random(seed * 7919 + 3)
        docs, gold = make_docs(
            kb, rng, SHORT_PARAMS["docs"], SHORT_PARAMS["tokens_per_doc"],
            SHORT_PARAMS["entities_per_segment"], "s",
        )
        out["corpus"] = {"documents": docs, "gold": gold}
    elif workload == "kg_build":
        out["corpus"] = make_kg_corpus(kb, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return out


def digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


def text_of(doc: dict) -> str:
    return " ".join(s["text"] for s in doc["spans"] if s["kind"] == "text")


def doc_tokens(doc: dict) -> int:
    return len(text_of(doc).split())


def planted_duplicates(groups: list) -> set:
    return {i for g in groups for i in g["ids"][1:]}


def head_share(gold: list, kb: dict, head_fraction: float = 0.1) -> float:
    """Share of gold mentions whose entity is in the top `head_fraction`
    of entities by popularity."""
    head = set(kb["uris"][: max(1, int(len(kb["uris"]) * head_fraction))])
    return sum(g["uri"] in head for g in gold) / max(1, len(gold))


def self_check(workload: str, inputs: dict) -> dict:
    """Raises ValueError when an input property the workload relies on
    does not hold; returns the input statistics it states. (That one seed
    gives byte-identical inputs is checked by the caller, which generates
    them more than once.)"""
    kb = inputs["kb"]
    sf_words = {w.lower() for sfs in kb["sf_of"] for sf in sfs for w in sf.split()}
    plain = set(kb["filler"]) | {w for t in kb["topics"] for w in t}
    if sf_words & plain:
        raise ValueError("filler/topic vocabulary overlaps the surface forms")
    corpus = inputs["corpus"]
    docs = corpus["documents"]
    toks = [doc_tokens(d) for d in docs]
    stats = {
        "docs": len(docs),
        "tokens": sum(toks),
        "min_doc_tokens": min(toks),
        "max_doc_tokens": max(toks),
        "gold_mentions": len(corpus["gold"]),
        "head_decile_mention_share": round(head_share(corpus["gold"], kb), 4),
        "entities": len(kb["uris"]),
        "surface_forms": len({sf for sfs in kb["sf_of"] for sf in sfs}),
        "training_docs": len(inputs["training"]["documents"]),
        "training_anchors": len(inputs["training"]["occurrences"]),
    }
    if workload == "annotate_short":
        chars = max(len(text_of(d)) for d in docs)
        if max(toks) >= WINDOW_TOKENS or chars > SHORT_DOC_MAX_CHARS:
            raise ValueError("a short doc does not fit one window")
        return stats
    long_docs = [t for t in toks if t > 4 * KG_PARAMS["clump_tokens"]]
    if min(long_docs) < 6 * WINDOW_TOKENS:
        raise ValueError("a long doc spans fewer than 6 windows")
    # planted copies must be the only embedding pairs at the threshold
    vec = {e["doc_id"]: e["embedding"] for e in corpus["embeddings"]}
    group_of = {i: g["ids"][0] for g in corpus["groups"] if g["kind"] != "clump"
                for i in g["ids"]}
    ids = sorted(vec)
    for a, x in enumerate(ids):
        for y in ids[a + 1:]:
            cos = sum(p * q for p, q in zip(vec[x], vec[y]))
            planted = x in group_of and group_of[x] == group_of.get(y)
            if (cos >= KG_PARAMS["cosine_threshold"]) != planted:
                raise ValueError(f"embedding pair {x},{y} has cosine {cos:.3f}")
    stats.update(
        long_docs=len(long_docs),
        planted_duplicates=len(planted_duplicates(corpus["groups"])),
        clump=KG_PARAMS["clump"],
        lsh_bucket_cap=KG_PARAMS["lsh_bucket_cap"],
    )
    return stats


if __name__ == "__main__":
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    for wl in ("annotate_short", "kg_build"):
        inputs = make_inputs(wl, seed)
        if digest(make_inputs(wl, seed)) != digest(inputs):
            raise ValueError("same seed gave different inputs")
        print(wl, json.dumps(self_check(wl, inputs)))
