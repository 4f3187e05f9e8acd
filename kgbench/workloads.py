"""The benchmark's workloads.

Each workload sets up several times (the median is `setup_s`), then runs
a closed loop: one driver, one job at a time, the next iteration only
after the previous one returned and its output was collected. Outputs are
checked after each iteration, outside the timed region.

With tracing on, each library layer is also run on its own, with its
inputs already materialized to parquet, inside a span whose Spark job
group carries its stage metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from tracing import Tracer, persistent_rdds, plan_choices

from dbpedia_spotlight_spark.datapipe.dedup import (
    connected_components,
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    semantic_dedup,
)
from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
from dbpedia_spotlight_spark.operators.candidates import generate_candidates
from dbpedia_spotlight_spark.operators.disambiguate import (
    attach_context_windows,
    best_k,
    disambiguate_best,
    score_candidates,
)
from dbpedia_spotlight_spark.operators.filters import apply_default_filter_chain
from dbpedia_spotlight_spark.operators.modelbuild import (
    build_model_from_occurrences,
    cooccurrence_edges,
)
from dbpedia_spotlight_spark.operators.spotter import SpotterDictionary, spot_documents
from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents
from dbpedia_spotlight_spark.pipeline.annotate import annotate
from dbpedia_spotlight_spark.pipeline.checkpoint import run_checkpointed
from dbpedia_spotlight_spark.pipeline.triples import annotation_triples, write_triples

SETUPS = 3
# docs of annotate_short's untimed warm-up pass
WARM_DOCS = 8
SPOT_KEY = ["doc_id", "span_pos", "offset"]
INPUT_DIRS = ("train", "occs", "docs", "emb")
MODEL_TABLES = ("surface_forms", "resources", "candidates", "token_types", "context_counts")

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
OCCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("span_pos", pa.int32()),
                         ("offset", pa.int32()), ("surface_form", pa.string()),
                         ("uri", pa.string())])
EMB_SCHEMA = pa.schema([("doc_id", pa.string()), ("embedding", pa.list_(pa.float64()))])


def _write(rows: list, schema, path: str, files: int) -> None:
    """A parquet table of `files` files, as a source table would arrive."""
    os.makedirs(path)
    for i in range(files):
        part = rows[i * len(rows) // files : (i + 1) * len(rows) // files]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _tree_digest(path: str, subdirs: tuple) -> str:
    h = hashlib.sha256()
    for sub in subdirs:
        for root, _, files in sorted(os.walk(os.path.join(path, sub))):
            for name in sorted(files):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs if not f.startswith("."))


def _materialize(spark, df, path: str) -> tuple:
    df.write.parquet(path)
    out = spark.read.parquet(path)
    return out, out.count()


class Run:
    """State of one benchmark run of one workload. The Spark session starts
    on first use, so set-up that needs no Spark is timed without a JVM
    warming up beside it."""

    def __init__(self, session, workload: str, seed: int, work: str, trace: bool):
        self._session, self._spark = session, None
        self.workload, self.seed, self.work, self.trace = workload, seed, work, trace
        self.tracer = Tracer()
        self.session_s = 0.0
        self.session_ready = 0.0
        self.setup_s: list = []
        self.inputs: dict = {}
        self.input_dir = ""
        self.stats: dict = {}
        self.values: dict = {}
        self.attempted = 0
        self.failed_docs = 0
        self.problems: dict = {}
        self.iter_s: list = []

    @property
    def started(self) -> bool:
        return self._spark is not None

    @property
    def spark(self):
        if self._spark is None:
            t0 = time.perf_counter()
            self._spark = self._session()
            self.session_s = time.perf_counter() - t0
            self.session_ready = time.time()
            if self.trace:
                self.tracer.sc = self._spark.sparkContext
        return self._spark

    # ---- set-up -----------------------------------------------------------
    def write_inputs(self, d: str) -> None:
        inp = self.inputs
        _write(inp["training"]["documents"], DOCS_SCHEMA, f"{d}/train", 8)
        _write(inp["training"]["occurrences"], OCCS_SCHEMA, f"{d}/occs", 1)
        _write(inp["corpus"]["documents"], DOCS_SCHEMA, f"{d}/docs", 8)
        if "embeddings" in inp["corpus"]:
            _write(inp["corpus"]["embeddings"], EMB_SCHEMA, f"{d}/emb", 1)

    def build_model(self, d: str, out: str):
        """Model tables built from the training anchors and reloaded from
        parquet, plus the spotter dictionary, as the build-model job does."""
        spark = self.spark
        before = persistent_rdds(spark)
        with self.tracer.span("modelbuild") as sp:
            tdocs = spark.read.parquet(f"{d}/train")
            occs = spark.read.parquet(f"{d}/occs")
            build_model_from_occurrences(tdocs, occs, tokenize_documents(tdocs)).save(out)
            model = SpotlightModel.load(spark, out)
        sp["counts"]["cached_rdds"] = persistent_rdds(spark) - before
        if self.trace:
            for name in MODEL_TABLES:
                sp["counts"][name] = getattr(model, name).count()
        with self.tracer.span("dict_build"):
            rows = model.surface_forms.select(
                "surface_form", "annotated_count", "total_count").collect()
            dictionary = SpotterDictionary.build((r[0], r[1], r[2]) for r in rows)
        return model, dictionary

    def setup(self) -> None:
        """Generates and writes the inputs and builds the model from them
        several times, checks that every time wrote the same bytes, and
        keeps the last set. The first time also warms the JVM and the
        Python workers for the timed loop."""
        digests = set()
        for k in range(SETUPS):
            t0 = time.perf_counter()
            self.inputs = gen.make_inputs(self.workload, self.seed)
            d = f"{self.work}/setup{k}"
            self.write_inputs(d)
            self.model, self.dictionary = self.build_model(d, f"{d}/model")
            self.setup_s.append(time.perf_counter() - t0)
            digests.add(_tree_digest(d, INPUT_DIRS))
            self.input_dir = d
        if len(digests) != 1:
            raise ValueError("the same seed wrote different input bytes")
        self.stats = gen.self_check(self.workload, self.inputs)
        self.checker = checks.Checker(
            self.inputs["corpus"]["documents"], self.inputs["kb"]["uris"]
        )

    # ---- closed loop ------------------------------------------------------
    def loop(self, seconds: float, iteration) -> None:
        """Runs `iteration(i) -> timed seconds` until `seconds` have passed
        (at least once); an iteration that raises loses all its docs."""
        n_docs = len(self.inputs["corpus"]["documents"])
        start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - start < seconds:
            self.attempted += n_docs
            try:
                elapsed = iteration(i)
            except Exception as exc:  # the run goes on to report the loss
                self.failed_docs += n_docs
                self.problems[f"raised {type(exc).__name__}"] = str(exc)[:500]
                break
            self.iter_s.append(elapsed)
            self.count_failures()
            i += 1

    def count_failures(self) -> None:
        """Adds the docs that failed a check since the last call."""
        self.failed_docs += len(self.checker.failed)
        self.checker.failed.clear()
        self.problems.update(self.checker.problems)

    def result(self, rss_mb: float) -> tuple:
        self.count_failures()
        v = self.values
        v["setup_s"] = statistics.median(self.setup_s)
        n_docs = len(self.inputs["corpus"]["documents"]) if self.inputs else 0
        v["docs_per_s"] = n_docs / statistics.median(self.iter_s) if self.iter_s else 0.0
        v["peak_rss_mb"] = rss_mb
        v["engine.error_rate"] = self.failed_docs / max(1, self.attempted)
        return v, self.attempted, self.failed_docs


# ---- annotate_short -------------------------------------------------------
def annotate_short(run: Run, seconds: float) -> None:
    """Many docs that each fit one context window, the model prebuilt in
    set-up, annotate() at library defaults."""
    spark = run.spark
    run.setup()
    docs = spark.read.parquet(f"{run.input_dir}/docs")
    gold = run.inputs["corpus"]["gold"]

    def iteration(i: int) -> float:
        t0 = time.perf_counter()
        rows = annotate(docs, run.model, dictionary=run.dictionary).collect()
        elapsed = time.perf_counter() - t0
        run.values["link_precision"], run.values["link_recall"] = checks.link_quality(
            run.checker.annotations(rows), gold)
        return elapsed

    # An untimed pass over a few docs first compiles the plan's code and
    # warms the spotter in the Python workers: the first pass after set-up
    # is otherwise ~40% slower than the next, by an amount that varies from
    # run to run. A pass over all docs would warm more but costs a whole
    # iteration, more than a run of about a minute can carry.
    warm = [x["doc_id"] for x in run.inputs["corpus"]["documents"][:WARM_DOCS]]
    annotate(docs.filter(F.col("doc_id").isin(warm)), run.model,
             dictionary=run.dictionary).collect()
    run.loop(seconds, iteration)
    if run.trace:
        staged_annotate_layers(run, docs)
        with run.tracer.span("annotate") as sp:
            out = annotate(docs, run.model, dictionary=run.dictionary)
            rows = out.collect()
        sp["counts"].update(rows_out=len(rows), **plan_choices(out))
        run.attempted += len(run.inputs["corpus"]["documents"])
        run.checker.annotations(rows)


def staged_annotate_layers(run: Run, docs) -> None:
    """spot -> tokenize -> candidates -> windows -> score -> rank, each
    materialized with its inputs already materialized."""
    spark, model, tr = run.spark, run.model, run.tracer
    st = f"{run.work}/staged"
    with tr.span("spotter") as sp:
        spots, n = _materialize(spark, spot_documents(
            docs, model.surface_forms, dictionary=run.dictionary), f"{st}/spots")
    sp["counts"]["rows_out"] = n
    with tr.span("tokenizer") as sp:
        tokens, sp["counts"]["rows_out"] = _materialize(
            spark, tokenize_documents(docs), f"{st}/tokens")
    cands_df = generate_candidates(spots, model.surface_forms, model.candidates)
    with tr.span("candidates") as sp:
        cands, m = _materialize(spark, cands_df, f"{st}/cands")
    sp["counts"].update(
        rows_out=m,
        fanout=m / max(1, n),
        resolved_ratio=cands.select(*SPOT_KEY).distinct().count() / max(1, n),
        broadcast_joins=plan_choices(cands_df)["broadcast_joins"],
    )
    with tr.span("windows") as sp:
        tk_df, sc_df = attach_context_windows(tokens, cands)
        tk, _ = _materialize(spark, tk_df, f"{st}/win_tokens")
        sc, sp["counts"]["rows_out"] = _materialize(spark, sc_df, f"{st}/win_cands")
    sp["counts"]["per_doc"] = (tk.select("ctx_id").distinct().count()
                               / max(1, tk.select("doc_id").distinct().count()))
    with tr.span("score") as sp:
        scored, sp["counts"]["rows_out"] = _materialize(
            spark, score_candidates(sc, tk, model, ctx_col="ctx_id"), f"{st}/scored")
    with tr.span("rank") as sp:
        _, r = _materialize(spark, disambiguate_best(best_k(scored, k=1)), f"{st}/ranked")
    sp["counts"].update(
        rows_out=r,
        kept_ratio=r / max(1, scored.select(*SPOT_KEY).distinct().count()),
    )


# ---- kg_build -------------------------------------------------------------
def _flat_text(docs):
    text_spans = F.filter("spans", lambda s: s["kind"] == "text")
    return docs.select("doc_id", F.concat_ws(
        " ", F.transform(text_spans, lambda s: s["text"])).alias("text"))


def _manifest(out: str) -> list:
    path = f"{out}/_manifest/manifest.jsonl"
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _annotation_rows(spark, path: str) -> set:
    return {
        (r["doc_id"], r["span_pos"], r["offset"], r["surface_form"], r["uri"],
         round(r["similarity_score"], 9))
        for r in spark.read.parquet(path).collect()
    }


def kg_build(run: Run, seconds: float) -> None:
    """The write path as the annotate job runs it with --no-context, behind
    a corpus-clean step. Set-up builds the model from the training anchors,
    as the build-model job does before the annotate job reads it. Each
    iteration drops exact duplicates and then semantic duplicates of the
    raw corpus, annotates the survivors with run_checkpointed (filters on)
    killed after half its waves and resumed, then writes NIF triples and
    entity co-occurrence edges. MinHash-LSH near-dup clustering runs in the
    traced run only.

    Both cuts keep one run near a minute on four cores: there, two waves of
    windowed context scoring cost about 30 s at this size, and
    dedup_clusters about 15 s warm and 26 s in a fresh JVM."""
    p = gen.KG_PARAMS
    run.setup()
    spark, tr = run.spark, run.tracer
    d = run.input_dir
    corpus = run.inputs["corpus"]
    planted = gen.planted_duplicates(corpus["groups"])
    centroids = np.array(corpus["centroids"])
    all_ids = {x["doc_id"] for x in corpus["documents"]}
    half = -(-p["num_buckets"] // p["wave_size"]) // 2
    last: dict = {}

    def checkpointed(docs, model, dictionary, out, **kw):
        return run_checkpointed(
            docs, lambda sub: annotate(sub, model, use_context=False, apply_filters=True,
                                       dictionary=dictionary),
            out, num_buckets=p["num_buckets"], wave_size=p["wave_size"], **kw)

    def iteration(i: int) -> float:
        out = f"{run.work}/iter{i}"
        t0 = time.perf_counter()
        docs = spark.read.parquet(f"{d}/docs")
        with tr.span("dedup") as sp:
            exact = [r["doc_id"] for r in
                     dedup_exact(_flat_text(docs)).select("doc_id").collect()]
            emb = spark.read.parquet(f"{d}/emb").filter(F.col("doc_id").isin(exact))
            sem = semantic_dedup(emb, centroids, threshold=p["cosine_threshold"],
                                 id_col="doc_id", vec_col="embedding")
            kept = {r["vec_id"] for r in sem.filter("keep").collect()}
        sp["counts"]["rows_out"] = len(kept)
        survivors = docs.filter(F.col("doc_id").isin(sorted(kept)))
        model, dictionary = run.model, run.dictionary
        with tr.span("checkpoint") as sp:
            try:
                checkpointed(survivors, model, dictionary, f"{out}/ann", fail_after_waves=half)
                raise RuntimeError("run_checkpointed did not stop at fail_after_waves")
            except RuntimeError as exc:
                if "simulated kill" not in str(exc):
                    raise
            before = _manifest(f"{out}/ann")
            res = checkpointed(survivors, model, dictionary, f"{out}/ann")
        ann = spark.read.parquet(f"{out}/ann/data")
        with tr.span("triples") as sp_t:
            write_triples(annotation_triples(ann), f"{out}/triples",
                          num_buckets=p["triple_buckets"])
        with tr.span("graph") as sp_g:
            cooccurrence_edges(ann.select("doc_id", "uri")).write.parquet(f"{out}/edges")
        elapsed = time.perf_counter() - t0

        after = _manifest(f"{out}/ann")[len(before):]
        done_before = {b for rec in before for b in rec["buckets"]}
        sp["counts"].update(
            rows_out=res["rows_written"],
            waves=len(before) + len(after),
            wave_s=statistics.median(rec["seconds"] for rec in before + after),
            bytes_written=_dir_bytes(f"{out}/ann/data"),
            resume_skipped_buckets=len(res["resumed_from"]),
            resume_redo_buckets=len(done_before & {b for rec in after for b in rec["buckets"]}),
        )
        sp_t["counts"]["bytes_written"] = _dir_bytes(f"{out}/triples")
        sp_g["counts"]["bytes_written"] = _dir_bytes(f"{out}/edges")
        sp_g["counts"]["rows_out"] = sp_g["counts"]["edges"] = (
            spark.read.parquet(f"{out}/edges").count())
        triples = [(r["subj"], r["pred"], r["obj"])
                   for r in spark.read.parquet(f"{out}/triples").collect()]
        sp_t["counts"]["rows_out"] = len(triples)
        links = run.checker.triples(triples)
        lp, lr = checks.link_quality(links, corpus["gold"], kept)
        dp, dr = checks.dup_quality(all_ids - kept, planted)
        run.values.update({"link_precision": lp, "link_recall": lr,
                           "dedup.dup_precision": dp, "dedup.dup_recall": dr})
        last.update(kept=kept, out=out, model=model, dictionary=dictionary,
                    survivors=survivors)
        return elapsed

    run.loop(seconds, iteration)
    if run.trace and last:
        kg_build_traced(run, last, checkpointed)


def kg_build_traced(run: Run, last: dict, checkpointed) -> None:
    """Dedup sub-stages, the annotate and filter layers on the survivors,
    and the kill+resume output against an uninterrupted run."""
    spark, tr = run.spark, run.tracer
    p = gen.KG_PARAMS
    d = run.input_dir
    st = f"{run.work}/staged"
    corpus = run.inputs["corpus"]
    group_of = {i: g["ids"][0] for g in corpus["groups"] for i in g["ids"]}
    exact, _ = _materialize(
        spark, dedup_exact(_flat_text(spark.read.parquet(f"{d}/docs"))), f"{st}/exact")
    with tr.span("dedup.minhash"):
        sigs, _ = _materialize(spark, minhash_signatures(exact), f"{st}/sigs")
    with tr.span("dedup.lsh") as sp:
        pairs, n_pairs = _materialize(spark, lsh_candidate_pairs(
            sigs, max_bucket_size=p["lsh_bucket_cap"]), f"{st}/pairs")
    true_pairs = sum(1 for r in pairs.collect()
                     if r["a"] in group_of and group_of[r["a"]] == group_of.get(r["b"]))
    sp["counts"].update(lsh_pairs=n_pairs, pair_yield=true_pairs / max(1, n_pairs))
    verified, _ = _materialize(spark, ngram_jaccard_pairs(exact, pairs), f"{st}/verified")
    with tr.span("dedup.components"):
        _materialize(spark, connected_components(verified.select("a", "b")),
                     f"{st}/components")
    with tr.span("dedup.semantic"):
        semantic_dedup(spark.read.parquet(f"{d}/emb"), np.array(corpus["centroids"]),
                       threshold=p["cosine_threshold"], id_col="doc_id",
                       vec_col="embedding").collect()

    model, dictionary, survivors = last["model"], last["dictionary"], last["survivors"]
    with tr.span("annotate") as sp:
        ann_df = annotate(survivors, model, use_context=False, dictionary=dictionary)
        rows = ann_df.collect()
    sp["counts"].update(rows_out=len(rows), **plan_choices(ann_df))
    run.attempted += len(last["kept"])
    run.checker.annotations(rows)
    unfiltered, n_in = _materialize(
        spark, spark.createDataFrame(rows, ann_df.schema), f"{st}/unfiltered")
    with tr.span("filters") as sp:
        _, n_out = _materialize(spark, apply_default_filter_chain(unfiltered),
                                f"{st}/filtered")
    sp["counts"].update(rows_out=n_out, kept_ratio=n_out / max(1, n_in))

    # kill+resume must write the rows an uninterrupted run writes
    checkpointed(survivors, model, dictionary, f"{st}/uninterrupted")
    resumed = _annotation_rows(spark, f"{last['out']}/ann/data")
    whole = _annotation_rows(spark, f"{st}/uninterrupted/data")
    run.attempted += len(last["kept"])
    for row in resumed ^ whole:
        run.checker.fail(row[0], "kill+resume rows differ from an uninterrupted run")


WORKLOADS = {"annotate_short": annotate_short, "kg_build": kg_build}
