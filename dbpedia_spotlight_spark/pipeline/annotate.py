"""The flagship /annotate pipeline as one lazy DataFrame DAG.

Reference lifecycle (SURVEY.md §3.1, rest/.../SpotlightInterface.java:124-172):
    text -> tokenize -> spot -> candidates -> disambiguate -> filter -> output

Spark DAG:
    documents --mapInPandas--> spots + ctx_id   (broadcast dictionary, no
                                                 shuffle; D2 window per spot)
    documents --mapInPandas--> tokens + ctx_id  (no shuffle; D2 window per
                                                 token)
    spots ⋈ surface_forms ⋈ candidates          (broadcast + two-stage skew join)
    ⋈ context_counts ⋈ query vectors -> agg     (shuffle on res_id / ctx_id)
    window rank / softmax                       (shuffle on spot key)
    filters                                     (no shuffle)

Both scans assign context windows while they walk each document's tokens
in offset order; there is no relational window-assignment pass.

The four reference IRs (spot list, candidate map, context scores, ranked
occurrences) are the intermediate DataFrames returned by the helpers, each
checkpointable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
from dbpedia_spotlight_spark.operators.candidates import (
    AUTO_BROADCAST_MAX,
    generate_candidates,
)
from dbpedia_spotlight_spark.operators.disambiguate import (
    attach_context_windows,
    best_k,
    disambiguate_best,
    score_candidates,
)
from dbpedia_spotlight_spark.operators.filters import apply_default_filter_chain
from dbpedia_spotlight_spark.operators.spotter import spot_documents
from dbpedia_spotlight_spark.operators.tokenizer import (
    DEFAULT_STOPWORDS,
    tokenize_documents,
)

ANNOTATION_COLS = [
    "doc_id",
    "span_pos",
    "offset",
    "surface_form",
    "uri",
    "similarity_score",
    "percentage_second_rank",
    "contextual_score",
    "types",
    "res_id",
    "support",
]


def annotate(
    documents: DataFrame,
    model: SpotlightModel,
    use_context: bool = True,
    apply_filters: bool = False,
    confidence: float = 0.1,
    support: int = 10,
    spotter: str = "fsa",
    heads: list | None = None,
    k: int = 1,
    stopwords: frozenset = DEFAULT_STOPWORDS,
    max_context_tokens: int | None = 250,
    tokens: DataFrame | None = None,
    spots: DataFrame | None = None,
    dictionary=None,
) -> DataFrame:
    """documents(doc_id, spans) -> annotations (one row per linked mention).

    With k=1 this is the reference `disambiguate` (best per spot, ordered by
    offset); with k>1 the bestK ranked lists (rank column retained).
    max_context_tokens enables D2 context windowing (long documents are
    scored against per-window context vectors instead of the whole doc;
    ref DBTwoStepDisambiguator.scala:89-119, MAX_CONTEXT=250). The DEFAULT
    is the reference's windowed mode (MAX_CONTEXT=250): the reference
    itself switches to windowed/Document disambiguation for long inputs
    (DBTwoStepDisambiguator.scala:72,89-119; the REST layer flips at
    >1200 chars, SpotlightInterface.java:150-155). Pass
    max_context_tokens=None to force whole-document scoring (one unbounded
    window per doc).
    Deviation: windows are cut at fixed max_context_tokens token ordinals,
    not at sentence boundaries as the reference accumulates them
    (DBTwoStepDisambiguator.scala:102), so scores of documents longer
    than one window approximate the reference's; documents that fit one
    window score identically to whole-doc scoring.
    Cost: the tokenizer and spotter scans tag each token and spot with
    its window (ctx_id) as they walk the document, so windowing adds no
    Spark pass of its own. On 400 one-window docs (kgbench annotate_short,
    local[4] on a 4-core VM, median of 10 runs) that is 54.3 docs/s,
    against 40.0 docs/s when the windows come from the relational
    attach_context_windows pass. Tokens/spots injected without a ctx_id
    column still get their windows from that pass, by the same rule.
    `spots` injects a pre-computed spot table (SPOTS_SCHEMA) in place of the
    built-in spotters — the reference's pluggable-Spotter seam
    (rest/.../SpotlightInterface.java:124-137 takes any Spotter impl).
    `dictionary` injects a persisted SpotterDictionary (built once at
    model-build time, SpotterDictionary.save/load) so repeated annotate
    jobs skip the driver-side FSA build.
    """
    # D2 windows (None = one unbounded window per doc, ctx_id = doc_id).
    # The built-in scans tag tokens and spots with ctx_id as they walk
    # each document; injected tables without it go through
    # attach_context_windows below.
    window = max_context_tokens if use_context and max_context_tokens else None
    if spots is None:
        spots = spot_documents(
            documents,
            model.surface_forms,
            stopwords=stopwords,
            spotter=spotter,
            dictionary=dictionary,
            max_context_tokens=window,
        )
    # Skew plan (north rule): heads=None auto-selects — small candidate
    # tables broadcast whole; big ones switch to the two-stage
    # broadcast(head)+shuffle(tail) join on the cached head-sf statistic.
    # Pass heads=[] to force the single broadcast, or an explicit id list.
    if heads is None and model.candidates_count > AUTO_BROADCAST_MAX:
        heads = model.head_ids()
    # The spots/tokens subtrees are consumed by several downstream branches
    # (candidate join, NIL spot scores, context vectors). Without an exchange
    # at the fork, Spark recomputes the Python UDF scan once per branch
    # (~8x measured). A repartition makes the fork an Exchange that
    # ReuseExchange can dedupe (measured: not above a cached documents
    # table, where each consumer still reruns the scan). Tokens cluster on
    # their context key, so the query-vector aggregate needs no second
    # shuffle.
    spots = spots.repartition("doc_id")
    spot_cands = generate_candidates(
        spots, model.surface_forms, model.candidates, heads=heads
    )
    ctx_col = "ctx_id" if window else "doc_id"
    if not use_context:
        tokens = None
    elif tokens is None:
        tokens = tokenize_documents(
            documents, stopwords=stopwords, max_context_tokens=window
        ).repartition(ctx_col)
    if window and not ("ctx_id" in tokens.columns and "ctx_id" in spot_cands.columns):
        tokens, spot_cands = attach_context_windows(
            tokens.drop("ctx_id"), spot_cands.drop("ctx_id"), window
        )
    scored = score_candidates(
        spot_cands, tokens, model, use_context=use_context, ctx_col=ctx_col
    )
    ranked = best_k(scored, k=max(k, 1))
    out = ranked if k > 1 else disambiguate_best(ranked)
    out = out.select(*[c for c in ANNOTATION_COLS if c in out.columns], "rank")
    if apply_filters:
        out = apply_default_filter_chain(out, confidence=confidence, support=support)
    return out


def verify_span_invariant(documents_in: DataFrame, documents_out: DataFrame) -> bool:
    """Per-row invariant (BASELINE.json input_hint): span-sequence equality on
    (kind, text, media_ref, order). Compares two documents tables."""
    key = F.sha2(
        F.to_json(
            F.transform(
                "spans",
                lambda s: F.struct(s["kind"], s["text"], s["media_ref"]),
            )
        ),
        256,
    )
    a = documents_in.select("doc_id", key.alias("h"))
    b = documents_out.select("doc_id", key.alias("h"))
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
