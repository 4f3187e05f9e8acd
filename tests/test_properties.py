"""Property-based tests (hypothesis) for the pure-Python algorithm cores,
plus vectorized batch checks of the log-math columns against numpy."""

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dbpedia_spotlight_spark.operators.spotter import (
    AhoCorasick,
    drop_overlapping_spots,
    leftmost_longest,
)

WORDS = st.text(alphabet="abc", min_size=1, max_size=4)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 30),          # offset
            st.text("xyz", min_size=1, max_size=6),  # surface form
            st.floats(0, 1),             # spot prob
            st.sampled_from(["m", "Capital_Sequences"]),
        ),
        max_size=12,
    )
)
def test_overlap_resolution_invariants(spots):
    out = drop_overlapping_spots(spots)
    # output is a subset of the (deduped) input, without duplicates
    keys = {(s[0], s[1]) for s in spots}
    assert all((s[0], s[1]) in keys for s in out)
    assert len({(s[0], s[1]) for s in out}) == len(out)
    # Reference fidelity (DBSpotter.scala:146-165): two kept spots may only
    # overlap via the `remove += i-1` no-op quirk, i.e. when at least one
    # spot between them in sort order was removed. Consecutive kept spots
    # with adjacent sorted indices therefore never overlap.
    seen = {}
    for s in spots:
        seen.setdefault((s[0], s[1]), s)
    sorted_spots = sorted(seen.values(), key=lambda s: (s[0], len(s[1])))
    idx = {(s[0], s[1]): i for i, s in enumerate(sorted_spots)}
    kept = sorted(out, key=lambda s: idx[(s[0], s[1])])
    for a, b in zip(kept, kept[1:]):
        a0, a1 = a[0], a[0] + len(a[1])
        b0, b1 = b[0], b[0] + len(b[1])
        if a0 < b1 and b0 < a1:  # they overlap
            assert idx[(b[0], b[1])] - idx[(a[0], a[1])] >= 2, (kept, spots)


@settings(max_examples=150, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=6, unique=True), st.text("abc ", max_size=40))
def test_ahocorasick_equals_bruteforce(patterns, text):
    ac = AhoCorasick(patterns)
    got = sorted(set(ac.find_all(text)))
    expect = sorted(
        {
            (m.start(), m.start() + len(p))
            for p in patterns
            for m in re.finditer(f"(?={re.escape(p)})", text)
        }
    )
    assert got == expect


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 8)).map(
            lambda t: (t[0], t[0] + t[1])
        ),
        max_size=15,
    )
)
def test_leftmost_longest_invariants(matches):
    kept = leftmost_longest(matches)
    # non-overlapping and input subset
    for (a0, a1), (b0, b1) in zip(kept, kept[1:]):
        assert b0 >= a1
    assert all(m in matches for m in kept)
    # maximality: every dropped match overlaps something kept
    for m in matches:
        if m not in kept:
            assert any(not (m[1] <= k[0] or k[1] <= m[0]) for k in kept)


def test_logaddexp_and_softmax_columns_vs_numpy(spark):
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.operators.disambiguate import logaddexp

    rng = np.random.RandomState(11)
    a = rng.uniform(-50, 5, 300)
    b = rng.uniform(-50, 5, 300)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], "a double, b double"
    )
    got = np.array(
        [r[0] for r in df.select(logaddexp(F.col("a"), F.col("b"))).collect()]
    )
    assert np.allclose(got, np.logaddexp(a, b), atol=1e-12)


def test_closure_matches_python_fixpoint(spark):
    from dbpedia_spotlight_spark.operators.closure import redirect_closure

    rng = np.random.RandomState(5)
    for trial in range(3):
        n = 25
        # random functional graph over a subset of nodes (chains + cycles)
        srcs = [f"n{i}" for i in range(n)]
        edges = [(s, f"n{rng.randint(0, n)}") for s in srcs if rng.rand() < 0.7]
        edges = [(s, d) for s, d in edges if s != d]
        if not edges:
            continue
        mapping = dict(edges)

        def follow(u):
            seen = [u]
            cur = u
            while cur in mapping and mapping[cur] not in seen:
                cur = mapping[cur]
                seen.append(cur)
            return cur if cur != u else mapping.get(u, u)

        df = spark.createDataFrame(edges, "src_uri string, dst_uri string")
        got = {
            r["src_uri"]: r["final_uri"] for r in redirect_closure(df).collect()
        }
        for s, _ in edges:
            # acyclic chains must resolve to the python fixpoint exactly;
            # cycle members settle on some member of their cycle
            py = follow(s)
            if got[s] != py:
                cyc = [s]
                cur = s
                while cur in mapping and mapping[cur] not in cyc:
                    cur = mapping[cur]
                    cyc.append(cur)
                assert got[s] in cyc, (trial, s, got[s], py, cyc)


def test_duplicate_spans_matches_python_bruteforce(spark):
    """Adversarial small-alphabet corpus (3 tokens, 60 docs => dense k-gram
    collisions, within-doc repeats, spans that touch doc boundaries):
    duplicate_spans must equal a direct Python reference that counts gram
    STRINGS and merges covered windows."""
    from dbpedia_spotlight_spark.datapipe.dedup import duplicate_spans

    rng = np.random.RandomState(11)
    k = 4
    docs = []
    for i in range(60):
        n = rng.randint(0, 15)
        docs.append((i, " ".join(rng.choice(["aa", "bb", "cc"], size=n))))

    counts: dict = {}
    grams_by_doc = {}
    for did, text in docs:
        toks = text.split()
        grams = [tuple(toks[p : p + k]) for p in range(len(toks) - k + 1)]
        grams_by_doc[did] = grams
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
    expected = set()
    for did, grams in grams_by_doc.items():
        hit = [p for p, g in enumerate(grams) if counts[g] >= 2]
        if not hit:
            continue
        start = prev = hit[0]
        for p in hit[1:]:
            if p - prev > k:
                expected.add((did, start, prev + k - 1))
                start = p
            prev = p
        expected.add((did, start, prev + k - 1))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, shingle_k=k, min_count=2).collect()
    }
    assert got == expected


def test_asof_join_matches_bruteforce_random(spark):
    """Seeded random tables: asof_join == per-row brute force (latest
    right.ts <= left.ts per key, None when absent)."""
    import random

    from dbpedia_spotlight_spark.operators.asof import asof_join

    rng = random.Random(11)
    left = [
        (i, rng.randrange(5), rng.randrange(1000)) for i in range(120)
    ]
    right = [
        (rng.randrange(5), t, float(j))
        for j, t in enumerate(rng.sample(range(1000), 80))
    ]
    expected = {}
    for pid, k, ts in left:
        best = None
        for rk, rts, rv in right:
            if rk == k and rts <= ts and (best is None or rts > best[0]):
                best = (rts, rv)
        expected[pid] = best
    ldf = spark.createDataFrame(left, "pid long, user_id long, ts long")
    rdf = spark.createDataFrame(right, "user_id long, ts long, v double")
    got = {
        r.pid: (None if r.r_ts is None else (r.r_ts, r.r_v))
        for r in asof_join(ldf, rdf, on="user_id", ts_col="ts").collect()
    }
    assert got == expected


def test_triangle_counts_match_bruteforce_random(spark):
    """Seeded G(n, p) graphs: degree-oriented counts == itertools brute
    force over all vertex triples."""
    import itertools
    import random

    from dbpedia_spotlight_spark.operators.graph import triangle_counts

    for seed, n, p in [(1, 12, 0.4), (2, 16, 0.25), (3, 9, 0.7)]:
        rng = random.Random(seed)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        es = {frozenset(e) for e in edges}
        expected = {}
        for tri in itertools.combinations(range(n), 3):
            if all(
                frozenset(pair) in es
                for pair in itertools.combinations(tri, 2)
            ):
                for v in tri:
                    expected[v] = expected.get(v, 0) + 1
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.node: r.n_triangles for r in triangle_counts(df).collect()
        }
        assert got == expected, (seed, got, expected)


# --- BGP matching vs brute-force conjunctive evaluation ---------------------


def _bgp_brute(triples, patterns):
    """Enumerate all variable bindings satisfying every pattern."""
    import itertools

    vars_ = sorted(
        {t[1:] for pat in patterns for t in pat if t.startswith("?")}
    )
    symbols = sorted({s for tr in triples for s in tr})
    out = set()

    def ok(binding):
        for s, p, o in patterns:
            trip = tuple(
                binding[t[1:]] if t.startswith("?") else t for t in (s, p, o)
            )
            if trip not in triples:
                return False
        return True

    for combo in itertools.product(symbols, repeat=len(vars_)):
        binding = dict(zip(vars_, combo))
        if ok(binding):
            out.add(tuple(binding[v] for v in vars_))
    return vars_, out


def test_bgp_match_equals_brute_force_random(spark):
    """Seeded random graphs + patterns: bgp_match == exhaustive binding
    enumeration (SPARQL conjunctive semantics over data-drawn symbols)."""
    import random

    from dbpedia_spotlight_spark.operators.kgquery import bgp_match

    rng = random.Random(7)
    syms = ["a", "b", "c"]
    preds = ["p", "q"]
    terms = ["?x", "?y", "a", "b"]
    cases = 0
    while cases < 12:
        trips = {
            (rng.choice(syms), rng.choice(preds), rng.choice(syms))
            for _ in range(rng.randrange(1, 9))
        }
        pats = [
            (rng.choice(terms), rng.choice(preds + ["?y"]), rng.choice(terms))
            for _ in range(rng.randrange(1, 4))
        ]
        if not all(any(t.startswith("?") for t in p) for p in pats):
            continue  # bgp_match requires every pattern to bind a var
        cases += 1
        vars_, expected = _bgp_brute(trips, pats)
        df = spark.createDataFrame(
            sorted(trips), "subj string, pred string, obj string"
        )
        got_df = bgp_match(df, pats)
        assert sorted(got_df.columns) == vars_, (trips, pats)
        got = {tuple(r[v] for v in vars_) for r in got_df.collect()}
        assert got == expected, (trips, pats)


def test_blend_scores_equals_global_percent_rank_window(spark):
    """r5 rewrite pin: the distributed dense_sorted_id rank path is
    BYTE-identical to the naive one-task global percent_rank window it
    replaced, on a randomized frame with duplicates and NULLs."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.datapipe.packing import blend_scores

    rng = random.Random(20260821)
    rows = []
    for i in range(400):
        a = rng.choice([None, 0.0, 1.5, 2.5, rng.uniform(-5, 5)])
        b = float(rng.randint(0, 9))  # heavy duplicates
        rows.append((f"d{i:04d}", a, b))
    df = spark.createDataFrame(rows, "doc_id string, a double, b double")

    got = {
        r["doc_id"]: (r["a_pct"], r["b_pct"], r["blended"])
        for r in blend_scores(df, {"a": 0.7, "b": -0.3}).collect()
    }
    ref = df
    blended = F.lit(0.0)
    for col, wt in sorted({"a": 0.7, "b": -0.3}.items()):
        w = Window.orderBy(F.col(col).asc_nulls_first(), F.col("doc_id").asc())
        ref = ref.withColumn(f"{col}_pct", F.percent_rank().over(w))
        blended = blended + F.lit(float(wt)) * F.col(f"{col}_pct")
    want = {
        r["doc_id"]: (r["a_pct"], r["b_pct"], r["blended"])
        for r in ref.withColumn("blended", F.round(blended, 6)).collect()
    }
    assert got == want  # exact equality, not approx


def test_attach_windows_matches_bruteforce_assignment(spark):
    """r5 rewrite pin: the union+last() spot assignment equals the
    brute-force definition (last window whose start offset <= spot
    offset, else first window) on randomized token/spot layouts,
    including spots at offsets that are not token offsets. The scan-side
    rule (context_windows/window_of, which tokenize_documents and
    spot_documents apply) must match the same brute force on the same
    layouts, and the scans themselves on multi-span docs with a media
    span between two text spans."""
    import random

    from dbpedia_spotlight_spark.operators.disambiguate import (
        attach_context_windows,
    )
    from dbpedia_spotlight_spark.operators.spotter import (
        SpotterDictionary,
        spot_documents,
    )
    from dbpedia_spotlight_spark.operators.tokenizer import (
        context_windows,
        tokenize_documents,
        window_of,
    )

    def brute_window(offsets, off, W):
        starts = [
            (offsets[i], i // W) for i in range(0, len(offsets)) if i % W == 0
        ]
        eligible = [wid for (s, wid) in starts if s <= off]
        return eligible[-1] if eligible else starts[0][1]

    rng = random.Random(7)
    tok_rows, spot_rows, docs = [], [], {}
    for d in range(25):
        doc = f"doc{d:02d}"
        n_tok = rng.randint(1, 23)
        offsets = sorted(rng.sample(range(0, 400), n_tok))
        docs[doc] = offsets
        tok_rows += [(doc, o) for o in offsets]
        for _ in range(rng.randint(1, 6)):
            # half aligned to a token, half arbitrary (incl. before first)
            off = (
                rng.choice(offsets)
                if rng.random() < 0.5
                else rng.randint(0, 410)
            )
            spot_rows.append((doc, 0, off, "sf"))
    tokens = spark.createDataFrame(tok_rows, "doc_id string, offset int")
    spots = spark.createDataFrame(
        spot_rows, "doc_id string, span_pos int, offset int, surface_form string"
    )
    W = 5
    _tk, sp = attach_context_windows(tokens, spots, max_tokens=W)
    got = {(r["doc_id"], r["offset"]): r["ctx_id"] for r in sp.collect()}

    for (doc, off), ctx in got.items():
        want_wid = brute_window(docs[doc], off, W)
        assert ctx == f"{doc}#{want_wid}", (doc, off, ctx)
        # scan-side rule, fed the offsets in any order
        shuffled = rng.sample(docs[doc], len(docs[doc]))
        assert window_of(context_windows(shuffled, W), off) == want_wid
    # every spot got exactly one window
    assert len(got) == len({(r[0], r[2]) for r in spot_rows})
    # a token's own window is its ordinal // W
    for offsets in docs.values():
        starts = context_windows(offsets, W)
        assert [window_of(starts, o) for o in offsets] == [
            i // W for i in range(len(offsets))
        ]

    # The scans on multi-span docs: [text, media, text] layouts whose
    # second text span starts one char past the first (media occupies no
    # chars), sentences of lowercase filler and capitalised names.
    names = ["Alpha", "Beta", "Gamma Delta", "Epsilon"]
    words = ["ox", "elm", "the", "runs", "of", "a"]
    doc_rows = []
    for d in range(30):
        texts = []
        for _ in range(rng.choice([1, 2, 2, 3])):
            sent = [
                rng.choice(names) if rng.random() < 0.3 else rng.choice(words)
                for _ in range(rng.randint(1, 14))
            ]
            texts.append(" ".join(sent) + rng.choice([".", "", " !"]))
        spans, off = [], 0
        for i, text in enumerate(texts):
            if i:
                spans.append(("media", None, f"img://{d}/{i}", off))
            spans.append(("text", text, None, off))
            off += len(text) + 1
        doc_rows.append((f"mdoc{d:02d}", spans))
    doc_df = spark.createDataFrame(
        doc_rows,
        "doc_id string, spans array<struct<kind:string, text:string, "
        "media_ref:string, offset:int>>",
    )
    dic = SpotterDictionary.build([(n, 9, 10) for n in names])
    W = 4
    tok_w = tokenize_documents(doc_df, max_context_tokens=W).collect()
    spot_w = spot_documents(
        doc_df, None, dictionary=dic, max_context_tokens=W
    ).collect()
    assert spot_w and any(not r["ctx_id"].endswith("#0") for r in spot_w)
    doc_offsets: dict = {}
    for r in tok_w:
        doc_offsets.setdefault(r["doc_id"], []).append(r["offset"])
    for offsets in doc_offsets.values():
        offsets.sort()
    for r in tok_w:
        offsets = doc_offsets[r["doc_id"]]
        assert r["ctx_id"] == f"{r['doc_id']}#{offsets.index(r['offset']) // W}"
    for r in spot_w:
        want_wid = brute_window(doc_offsets[r["doc_id"]], r["offset"], W)
        assert r["ctx_id"] == f"{r['doc_id']}#{want_wid}", r
    # ... and the relational pass over the unwindowed scans agrees
    _tk, sp = attach_context_windows(
        tokenize_documents(doc_df),
        spot_documents(doc_df, None, dictionary=dic),
        max_tokens=W,
    )
    assert sorted(
        (r["doc_id"], r["offset"], r["ctx_id"]) for r in sp.collect()
    ) == sorted((r["doc_id"], r["offset"], r["ctx_id"]) for r in spot_w)