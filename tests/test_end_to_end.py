"""Golden end-to-end: annotate the fixture corpus, check P/R >= 0.95 vs
gold-by-construction, span-sequence invariant, filters, checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.filters import (
    apply_default_filter_chain,
    support_filter,
    type_filter,
)
from dbpedia_spotlight_spark.operators.spotter import spot_documents
from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents
from dbpedia_spotlight_spark.pipeline.annotate import annotate, verify_span_invariant
from dbpedia_spotlight_spark.pipeline.checkpoint import run_checkpointed
from dbpedia_spotlight_spark.pipeline.evaluate import (
    linking_metrics,
    spotter_metrics,
)
from dbpedia_spotlight_spark.pipeline.triples import annotation_triples


@pytest.fixture(scope="module")
def annotations(world):
    df = annotate(world.documents, world.model, use_context=True)
    df.cache().count()
    return df


def test_linking_pr_gate(world, annotations):
    m = linking_metrics(annotations, world.gold, redirects=world.model.redirects)
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_spotter_pr(world, annotations):
    m = spotter_metrics(annotations, world.gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m


def test_prior_only_mode_runs(world):
    # contextStore == null path (ref DBTwoStepDisambiguator.scala:161-164)
    df = annotate(world.documents.limit(5), world.model, use_context=False)
    rows = df.collect()
    assert len(rows) > 0
    # prior-only: "Paris" resolves to the higher-prior city everywhere
    paris = [r for r in rows if r["surface_form"] == "Paris"]
    assert all(r["uri"] == "Paris" for r in paris)


def test_span_invariant(world):
    # the pipeline never mutates the documents table; invariant holds
    assert verify_span_invariant(world.documents, world.documents)
    broken = world.documents.withColumn("spans", F.slice("spans", 1, 1))
    assert not verify_span_invariant(world.documents, broken)


def test_filters(world, annotations):
    filtered = apply_default_filter_chain(annotations, confidence=0.1, support=10)
    n_all, n_f = annotations.count(), filtered.count()
    assert 0 < n_f <= n_all
    # support filter: all output resources have support > 10
    assert filtered.filter(F.col("support") <= 10).count() == 0
    # empty type list = pass-all (ref TypeFilter.scala:25-66)
    typed = type_filter(annotations, types=None)
    assert typed.count() == n_all


def test_annotation_triples(annotations):
    t = annotation_triples(annotations)
    rows = t.collect()
    preds = {r["pred"] for r in rows}
    assert len(preds) == 3
    ident = [r for r in rows if "taIdentRef" in r["pred"]]
    assert all(r["subj"].count("#char=") == 1 for r in ident)
    assert all(r["obj"].startswith("http://dbpedia.org/resource/") for r in ident)


def test_checkpoint_resume(world, tmp_path):
    out = str(tmp_path / "ckpt")
    spark = world.documents.sparkSession

    def fn(docs):
        return annotate(docs, world.model, use_context=False)

    # simulated kill after 1 wave
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_checkpointed(
            world.documents, fn, out, num_buckets=4, wave_size=1, fail_after_waves=1
        )
    # resume: skips the completed bucket
    stats = run_checkpointed(world.documents, fn, out, num_buckets=4, wave_size=1)
    assert len(stats["resumed_from"]) == 1
    assert stats["waves_run"] == 3

    # output equals a direct full run
    got = spark.read.parquet(out + "/data")
    direct = fn(world.documents)
    assert got.count() == direct.count()
    key = ["doc_id", "span_pos", "offset", "uri"]
    assert got.select(key).exceptAll(direct.select(key)).isEmpty()


def test_context_windowed_annotate(world):
    """D2: windowed scoring stays accurate (fixtures include a >250-token
    doc; per-window vectors must not break the P/R gate)."""
    ann = annotate(world.documents, world.model, use_context=True,
                   max_context_tokens=250)
    m = linking_metrics(ann, world.gold, redirects=world.model.redirects)
    assert m["precision"] >= 0.9 and m["recall"] >= 0.9, m


def test_annotate_plan_reuses_spot_exchange(world):
    """Regression guard (round-1 VERDICT watch item): the spots/tokens
    mapInPandas subtrees fork into several consumers; the repartition at
    the fork must stay a reusable Exchange or the Python scan silently
    recomputes once per branch (~8x). Assert the final adaptive plan
    contains ReusedExchange nodes."""
    df = annotate(world.documents, world.model, use_context=True)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") > 0, plan[:2000]


def _ranked_rows(df):
    return sorted(
        (r["doc_id"], r["span_pos"], r["offset"], r["rank"], r["uri"],
         r["similarity_score"], r["contextual_score"],
         r["percentage_second_rank"])
        for r in df.collect()
    )


@pytest.mark.parametrize("window", [250, 10])
def test_builtin_windows_match_injected_attach_path(world, window):
    """The scans' own ctx_id (built-in path) scores exactly like the
    relational attach_context_windows path that injected tokens/spots take:
    same rows, ranks and all three scores. At 10 tokens the fixture docs
    split into several windows."""
    docs, model = world.documents, world.model
    if window == 10:
        tagged = tokenize_documents(docs, max_context_tokens=window)
        assert tagged.filter(~F.col("ctx_id").endswith("#0")).limit(1).count()
    builtin = _ranked_rows(annotate(docs, model, k=2, max_context_tokens=window))
    injected = _ranked_rows(annotate(
        docs, model, k=2, max_context_tokens=window,
        tokens=tokenize_documents(docs),
        spots=spot_documents(docs, model.surface_forms),
    ))
    assert len(builtin) == len(injected) > 0
    for got, want in zip(builtin, injected):
        assert got[:5] == want[:5]
        assert got[5:] == pytest.approx(want[5:], rel=1e-9, abs=1e-12)


def test_default_annotate_skips_relational_window_pass(world, monkeypatch):
    """Built-in scans carry ctx_id, so neither the windowed default nor
    whole-doc scoring may plan the attach_context_windows sub-DAG."""
    import dbpedia_spotlight_spark.pipeline.annotate as annotate_mod

    def fail(*_args, **_kwargs):
        raise AssertionError("attach_context_windows on the built-in path")

    monkeypatch.setattr(annotate_mod, "attach_context_windows", fail)
    docs = world.documents.limit(6)
    assert annotate(docs, world.model).count() > 0
    assert annotate(docs, world.model, max_context_tokens=None).count() > 0


# Docs that name nothing: lowercase filler, and media-only docs.
_QUIET_DOCS = [
    ("quiet-0", [("text", "the river runs slowly past old mills.", None, 0)]),
    ("quiet-1", [("text", "nothing here names anything", None, 0),
                 ("media", None, "img://quiet-1", 28),
                 ("text", "just more words.", None, 28)]),
    ("media-0", [("media", None, "img://media-0", 0)]),
    ("media-1", [("media", None, "img://media-1a", 0),
                 ("media", None, "img://media-1b", 0)]),
]


def _quiet_docs(spark):
    return spark.createDataFrame(
        _QUIET_DOCS,
        "doc_id string, spans array<struct<kind:string, text:string, "
        "media_ref:string, offset:int>>",
    )


@pytest.mark.parametrize("use_context", [True, False])
def test_annotate_docs_without_mentions(world, use_context):
    """Regression: an Arrow batch that yields no spots (or no tokens) must
    not raise — an empty dict-of-lists frame has float64 columns Arrow
    cannot convert to list<string>. Each quiet doc sits alone in its
    batch here; mixed with linking docs they still add no rows."""
    quiet = _quiet_docs(world.documents.sparkSession)
    assert annotate(quiet, world.model, use_context=use_context).count() == 0
    mixed = world.documents.limit(4).unionByName(quiet)
    rows = annotate(mixed, world.model, use_context=use_context).collect()
    assert rows
    assert not {r["doc_id"] for r in rows} & {d for d, _ in _QUIET_DOCS}


def test_checkpointed_docs_without_mentions(world, tmp_path):
    """The same empty-batch case through run_checkpointed, as the
    no-context annotate job runs it."""
    quiet = _quiet_docs(world.documents.sparkSession)
    stats = run_checkpointed(
        quiet,
        lambda docs: annotate(docs, world.model, use_context=False),
        str(tmp_path / "quiet"),
        num_buckets=2,
        wave_size=1,
    )
    assert stats["rows_written"] == 0


def test_calibration_table_bins(spark):
    from dbpedia_spotlight_spark.pipeline.evaluate import calibration_table

    scored = spark.createDataFrame(
        [(d, 0, "u%d" % (d % 2), d / 10.0) for d in range(10)],
        "doc_id int, offset int, uri string, score double",
    )
    gold = spark.createDataFrame(
        [(d, 0, "u0") for d in range(10)],  # even docs correct
        "doc_id int, offset int, uri string",
    )
    rows = {r.bin: (r.n, r.precision) for r in calibration_table(scored, gold, num_bins=5).collect()}
    assert {b: n for b, (n, _) in rows.items()} == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}
    # each bin holds one even (correct) and one odd (wrong) doc
    assert all(p == 0.5 for _, p in rows.values())


def test_label_noise_estimate_thresholds(spark):
    from dbpedia_spotlight_spark.pipeline.evaluate import label_noise_estimate

    rows = [
        (1, "cat", "cat", 0.9), (2, "cat", "dog", 0.95),
        (3, "cat", "dog", 0.2),
        (4, "dog", "dog", 0.8), (5, "dog", "cat", 0.99),
    ]
    df = spark.createDataFrame(
        rows, "id int, given_label string, pred_label string, score double"
    )
    got = {
        (r.given_label, r.pred_label): (r.n_pairs, r.n_suspect, r.threshold)
        for r in label_noise_estimate(df).collect()
    }
    # dog threshold = mean(.95, .2, .8) = .65 -> only the .95 is suspect
    assert got[("cat", "dog")] == (2, 1, 0.65)
    # cat threshold = mean(.9, .99) = .945
    assert got[("dog", "cat")] == (1, 1, 0.945)


def test_conformal_thresholds_rank_pick(spark):
    import pytest

    from dbpedia_spotlight_spark.pipeline.evaluate import conformal_thresholds

    rows = [("PER", i / 100.0) for i in range(1, 100)] + [
        ("ORG", 0.5), ("ORG", 0.9),
    ]
    d = spark.createDataFrame(rows, "label string, score double")
    got = {r.label: (r.n, r.threshold) for r in conformal_thresholds(d, alpha=0.1).collect()}
    # PER: floor(0.1 * 100) = 10 -> 10th smallest = 0.10
    assert got["PER"] == (99, 0.1)
    # tiny class: degenerate pick = min score (never reject)
    assert got["ORG"] == (2, 0.5)
    with pytest.raises(ValueError):
        conformal_thresholds(d, alpha=0.0)
