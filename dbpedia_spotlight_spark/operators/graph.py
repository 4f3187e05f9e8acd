"""Graph-based collective disambiguation — D16 in SURVEY.md §2.4 (Han 2011,
"Collective Entity Linking in Web Text"), plus the generic weighted
personalized PageRank it needs.

Reference:
  - collective/src/main/scala/org/dbpedia/spotlight/graph/ReferentGraph.scala:35-160 —
    per paragraph: candidate-entity subgraph of the semantic (co-occurrence)
    graph with bidirectional arcs, plus surface-form→candidate arcs weighted
    by contextualScore (arcs with score<=0 omitted); preference vector puts
    1/|sf| on each surface-form node.
  - collective/.../disambiguate/GraphBasedDisambiguator.scala:56-180 — rank
    candidates by the PageRank score, best per surface form wins.
  - collective/src/main/java/es/yrbcn/graph/weighted/
    WeightedPageRankPowerMethod.java — power-method weighted PageRank.
  - graph source: WikipediaCooccurrencesGraph.scala:43-155 (M6 output → arcs).

Spark design: ALL documents are disambiguated collectively at once — the
node key is (doc_id, node), every step is an equi-join + groupBy-sum keyed
by doc_id, so each document's power iteration is independent and
co-partitioned; ~10 iterations of two shuffles each. localCheckpoint per
iteration truncates the lineage (same reason as the redirect closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SPOT_KEY = ["doc_id", "span_pos", "offset"]

DEFAULT_ITERATIONS = 10
DEFAULT_ALPHA = 0.85  # damping (follow-arc probability)


def resource_edges(cooc_edges: DataFrame, resources: DataFrame) -> DataFrame:
    """Map a uri-keyed co-occurrence edge list (M6 output: src_uri, dst_uri,
    count) to res_id arcs with the count as weight (ref
    WikipediaCooccurrencesGraph.scala:43-155 does the same uri→int mapping
    via HostMap; our resources dim IS the host map)."""
    r = F.broadcast(resources.select("res_id", "uri"))
    return (
        cooc_edges.join(r.withColumnRenamed("uri", "src_uri"), "src_uri")
        .withColumnRenamed("res_id", "src")
        .join(r.withColumnRenamed("uri", "dst_uri"), "dst_uri")
        .withColumnRenamed("res_id", "dst")
        .select("src", "dst", F.col("count").cast("double").alias("weight"))
    )


def referent_graph_arcs(
    spot_cands: DataFrame,
    edges: DataFrame,
    score_col: str = "contextual_score",
) -> DataFrame:
    """Build the per-document referent graph.

    spot_cands: SPOT_KEY + res_id + score_col (candidate-level contextual
    score). edges: (src, dst, weight) semantic arcs over res_ids.
    -> arcs (doc_id, src_node, dst_node, weight): entity↔entity arcs
    (bidirectional, ref ReferentGraph.scala getBidirectionalArcList) +
    sf→candidate arcs with score>0 (ref :118-121).
    """
    ent = lambda c: F.concat(F.lit("r:"), F.col(c).cast("string"))  # noqa: E731
    sf_node = F.concat_ws(":", F.lit("s"), F.col("span_pos"), F.col("offset"))

    doc_cands = spot_cands.select(
        "doc_id", F.col("res_id").alias("cand_res")
    ).distinct()

    # candidate subgraph: both endpoints must be candidates of the same doc
    e1 = (
        doc_cands.withColumnRenamed("cand_res", "src")
        .join(edges, "src")
        .join(
            doc_cands.withColumnRenamed("cand_res", "dst"), ["doc_id", "dst"]
        )
        .select("doc_id", ent("src").alias("src_node"), ent("dst").alias("dst_node"), "weight")
    )
    e2 = e1.select(
        "doc_id",
        F.col("dst_node").alias("src_node"),
        F.col("src_node").alias("dst_node"),
        "weight",
    )

    sf_arcs = spot_cands.filter(F.col(score_col) > 0).select(
        "doc_id",
        sf_node.alias("src_node"),
        ent("res_id").alias("dst_node"),
        F.col(score_col).cast("double").alias("weight"),
    )
    return e1.unionByName(e2).unionByName(sf_arcs)


def weighted_personalized_pagerank(
    arcs: DataFrame,
    preference: DataFrame,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Power-method PPR per doc_id partition.

    arcs: (doc_id, src_node, dst_node, weight>=0).
    preference: (doc_id, node, pref) — the personalized reset distribution
    (should sum to 1 per doc).
    -> (doc_id, node, rank).

    r_{t+1}(v) = (1-α)·pref(v) + α·Σ_{u→v} r_t(u)·w(u,v)/outw(u); dangling
    mass is redistributed via the preference vector (standard power-method
    handling; ref WeightedPageRankPowerMethod.java).
    """
    out_w = arcs.groupBy("doc_id", "src_node").agg(F.sum("weight").alias("_outw"))
    norm_arcs = (
        arcs.join(out_w, ["doc_id", "src_node"])
        .withColumn("p", F.col("weight") / F.col("_outw"))
        .select("doc_id", "src_node", "dst_node", "p")
    )
    nodes = (
        arcs.select("doc_id", F.col("src_node").alias("node"))
        .unionByName(arcs.select("doc_id", F.col("dst_node").alias("node")))
        .unionByName(preference.select("doc_id", "node"))
        .distinct()
    )
    pref = (
        nodes.join(preference, ["doc_id", "node"], "left")
        .withColumn("pref", F.coalesce(F.col("pref"), F.lit(0.0)))
    )
    has_out = out_w.select(
        "doc_id", F.col("src_node").alias("node"), F.lit(True).alias("_has_out")
    )

    ranks = pref.select("doc_id", "node", F.col("pref").alias("rank"))
    for _ in range(iterations):
        # dangling mass per doc: rank sitting on nodes with no out-arcs
        dangling = (
            ranks.join(has_out, ["doc_id", "node"], "left")
            .filter(F.col("_has_out").isNull())
            .groupBy("doc_id")
            .agg(F.sum("rank").alias("_dangling"))
        )
        src_ranks = ranks.select(
            F.col("doc_id"),
            F.col("node").alias("src_node"),
            F.col("rank").alias("_src_rank"),
        )
        inflow = (
            src_ranks.join(norm_arcs, ["doc_id", "src_node"])
            .select(
                "doc_id",
                F.col("dst_node").alias("node"),
                (F.col("_src_rank") * F.col("p")).alias("_in"),
            )
            .groupBy("doc_id", "node")
            .agg(F.sum("_in").alias("_inflow"))
        )
        ranks = (
            pref.join(inflow, ["doc_id", "node"], "left")
            .join(dangling, "doc_id", "left")
            .select(
                "doc_id",
                "node",
                (
                    F.lit(1.0 - alpha) * F.col("pref")
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("_inflow"), F.lit(0.0))
                        + F.coalesce(F.col("_dangling"), F.lit(0.0))
                        * F.col("pref")
                    )
                ).alias("rank"),
            )
        ).localCheckpoint(eager=False)
    return ranks


def graph_disambiguate(
    spot_cands: DataFrame,
    edges: DataFrame,
    score_col: str = "contextual_score",
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Collective best-candidate per spot: referent graph → PPR → argmax rank
    among each spot's candidates (ref GraphBasedDisambiguator.scala:140-180).
    Returns spot_cands columns + pagerank, rank=1 row per spot."""
    arcs = referent_graph_arcs(spot_cands, edges, score_col)

    sf_node = F.concat_ws(":", F.lit("s"), F.col("span_pos"), F.col("offset"))
    sf_nodes = spot_cands.select("doc_id", sf_node.alias("node")).distinct()
    n_sf = sf_nodes.groupBy("doc_id").agg(F.count("*").alias("_n"))
    preference = sf_nodes.join(n_sf, "doc_id").select(
        "doc_id", "node", (F.lit(1.0) / F.col("_n")).alias("pref")
    )

    ranks = weighted_personalized_pagerank(arcs, preference, iterations, alpha)
    ent_ranks = ranks.filter(F.col("node").startswith("r:")).select(
        "doc_id",
        F.regexp_replace("node", "^r:", "").cast("int").alias("res_id"),
        F.col("rank").alias("pagerank"),
    )
    scored = spot_cands.join(ent_ranks, ["doc_id", "res_id"], "left").withColumn(
        "pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0))
    )
    w = Window.partitionBy(*SPOT_KEY).orderBy(F.desc("pagerank"), F.asc("res_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") == 1
    )


def centrality_rescore(
    spot_cands: DataFrame,
    edges: DataFrame,
    score_col: str = "contextual_score",
) -> DataFrame:
    """Topical-centrality candidate rescoring — the jung module's
    GraphCentralityDisambiguator (jung/src/main/scala/org/dbpedia/spotlight/
    disambiguate/GraphCentralityDisambiguator.scala:96-168): per document,
    the top-scored candidate is the perceived topical center; every
    candidate entity is then rescored by its 1-hop adjacency intersection
    with that center (`AdjacencyList.intersect(a, b, "1hop").length` — the
    common-neighbor count in the semantic graph).

    spot_cands: SPOT_KEY + res_id + score_col. edges: (src, dst, weight)
    res_id arcs (resource_edges output; treated as undirected here, as the
    reference's adjacency lists are).
    -> spot_cands + central_res + common_nbrs, rank per spot ordered by
    common-neighbor count desc, then score desc, then res_id asc (the
    reference iterates a HashSet, so its tie order is unspecified; we pin
    a deterministic one).

    100-TB shape: the semantic graph is the big table; both join legs hit
    it as equi-joins on res_id with the per-doc candidate/center side
    deduped to bare ids first — no cross product, no vectors, and the
    groupBy keys are (doc_id, res_id) so partial aggregation applies."""
    nbrs = (
        edges.select(F.col("src").alias("res"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(F.col("dst").alias("res"), F.col("src").alias("nbr"))
        )
        .distinct()
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc(score_col), F.asc("res_id")
    )
    central = (
        spot_cands.withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("res_id").alias("central_res"))
    )
    central_nbrs = central.join(
        nbrs.withColumnRenamed("res", "central_res"), "central_res"
    ).select("doc_id", "nbr")
    cand_nbrs = (
        spot_cands.select("doc_id", "res_id")
        .distinct()
        .join(nbrs.withColumnRenamed("res", "res_id"), "res_id")
        .select("doc_id", "res_id", "nbr")
    )
    common = (
        cand_nbrs.join(central_nbrs, ["doc_id", "nbr"])
        .groupBy("doc_id", "res_id")
        .agg(F.count("*").alias("common_nbrs"))
    )
    scored = (
        spot_cands.join(common, ["doc_id", "res_id"], "left")
        .join(central, "doc_id")
        .withColumn("common_nbrs", F.coalesce(F.col("common_nbrs"), F.lit(0)))
    )
    w = Window.partitionBy(*SPOT_KEY).orderBy(
        F.desc("common_nbrs"), F.desc(score_col), F.asc("res_id")
    )
    return scored.withColumn("rank", F.row_number().over(w))


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts on an undirected graph -> (node,
    n_triangles); zero-triangle nodes are absent (inner joins).

    Degree-ordered orientation (the Cohen / "compact-forward" MapReduce
    scheme): every edge points from its lower-(degree, id) endpoint to
    the higher one, so each triangle is enumerated exactly once from its
    lowest corner and — the 100-TB point — the wedge join's multiplicity
    per node is its OUT-degree, which orientation bounds by O(sqrt(m))
    even for celebrity nodes whose raw degree is millions. Three
    shuffles total (degree agg, wedge self-join, closing-edge join);
    all equi-joins, no theta join.

    The corners explode at the end counts each triangle for all three
    of its nodes. No counterpart in the reference (its jung module stops
    at 1-hop common-neighbor intersections)."""
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    o = keyed.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("vk"),
    )
    wedges = (
        o.alias("o1")
        .join(o.alias("o2"), "u")
        .where(F.col("o1.vk") < F.col("o2.vk"))
        .select(
            F.col("u"),
            F.col("o1.v").alias("x"),
            F.col("o2.v").alias("y"),
        )
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def two_hop_pairs(
    edges: DataFrame, src: str = "src_uri", dst: str = "dst_uri"
) -> DataFrame:
    """Link-prediction candidates over an undirected canonical (src < dst)
    edge list: (x, z, n_paths) for every NON-adjacent pair connected
    through at least one common neighbor, n_paths = number of distinct
    intermediates (the common-neighbors score of Liben-Nowell/Kleinberg;
    the KG-completion counterpart of the reference's jung Cohesion
    neighborhood intersections, jung/.../Cohesion.scala).

    Shape: symmetrize -> one self-join on the shared intermediate ->
    canonicalize x < z -> count -> anti-join out existing edges. Both
    joins are equi-joins on node keys; at 100 TB the wedge join is the
    same degree-bounded pattern as triangle_counts (cap celebrity hubs
    upstream if the degree distribution is unbounded)."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    a, b = sym.alias("a"), sym.alias("b")
    paths = (
        a.join(b, F.col("a.v") == F.col("b.u"))
        .where(F.col("a.u") < F.col("b.v"))
        .select(F.col("a.u").alias("x"), F.col("b.v").alias("z"))
    )
    direct = edges.select(F.col(src).alias("x"), F.col(dst).alias("z"))
    return (
        paths.groupBy("x", "z")
        .agg(F.count("*").alias("n_paths"))
        .join(direct, ["x", "z"], "left_anti")
    )


def global_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    alpha: float = DEFAULT_ALPHA,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Global (non-personalized) PageRank over one graph — the canonical
    entity-importance score of a knowledge graph (Brin & Page 1998; the
    global twin of D16's per-document personalized power method above).

    edges: directed (src, dst[, weight]) — symmetrize first for an
    undirected graph. -> (node, rank), ranks summing to ~1.

    r_{t+1}(v) = (1-α)/N + α·(Σ_{u→v} r_t(u)·w(u,v)/outw(u) + D_t/N)
    with D_t the rank mass on dangling nodes (uniform reset — the
    standard power-method treatment). Every iteration is one equi-join
    + one groupBy-sum keyed on the node, both co-partitioned; lineage
    truncated per iteration. Deterministic given the graph, so a SQL
    twin unrolling the same iterations reproduces it (rounding at the
    consumer, same as d16)."""
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w"))
    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_outw"))
    norm = e.join(out_w, "_s").select(
        "_s", "_d", (F.col("_w") / F.col("_outw")).alias("_p")
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    has_out = out_w.select(F.col("_s").alias("node"), F.lit(True).alias("_o"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        dangling = (
            ranks.join(has_out, "node", "left")
            .filter(F.col("_o").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        inflow = (
            ranks.withColumnRenamed("node", "_s")
            .join(norm, "_s")
            .select(F.col("_d").alias("node"), (F.col("rank") * F.col("_p")).alias("_in"))
            .groupBy("node")
            .agg(F.sum("_in").alias("_inflow"))
        )
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - alpha) / n_nodes)
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("_inflow"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) over an undirected graph — entity "topic communities" in the
    co-occurrence KG.

    edges: directed pairs, symmetrized internally. -> (node, label).

    Every node starts labeled with itself; each round it adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — the deterministic variant (plain LPA breaks ties randomly
    and is not reproducible; min tie-break makes the whole fixed-round
    computation replayable in SQL). Per round: one equi-join (labels →
    edges) + one count groupBy + one per-node argmax window, all keyed
    on the node. Fixed round count, synchronous updates — convergence
    detection would add a driver round-trip per round; at KG scale a
    small fixed budget is the standard choice (GraphFrames LPA does the
    same)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    labels = (
        sym.select(F.col("_s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("_c"), F.asc("label"))
    for _ in range(iterations):
        labels = (
            labels.withColumnRenamed("node", "_s")
            .join(sym, "_s")
            .groupBy(F.col("_d").alias("node"), "label")
            .agg(F.count("*").alias("_c"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return labels


def neighborhood_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Jaccard similarity of entity NEIGHBORHOODS — |N(a)∩N(b)| /
    |N(a)∪N(b)| for every canonical pair sharing >= min_common
    neighbors. High-Jaccard pairs are duplicate-entity suspects inside
    the KG itself (two URIs used interchangeably co-occur with the same
    entities), the graph-side complement of the surface-form alignment
    in operators/kbaugment.py.

    edges: undirected (src, dst) pairs (canonical or not; symmetrized
    and deduped internally). -> (a, b, n_common, deg_a, deg_b, jaccard)
    with a < b.

    Scale shape: candidate pairs come ONLY from the wedge self-join
    (pairs with >= 1 common neighbor — never all-pairs), the same
    bounded-multiplicity join as two_hop_pairs; degrees broadcast-join
    back. |N(a)∪N(b)| = deg_a + deg_b − common (neighbor sets, so no
    second pass)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    deg = sym.groupBy("_s").agg(F.count("*").alias("deg"))
    wedges = (
        sym.alias("l")
        .join(sym.alias("r"), F.col("l._d") == F.col("r._d"))
        .where(F.col("l._s") < F.col("r._s"))
        .groupBy(
            F.col("l._s").alias("a"), F.col("r._s").alias("b")
        )
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("_s").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("_s").alias("b"), F.col("deg").alias("deg_b"))
    return (
        wedges.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous k-core peeling (Seidman 1983; the distributed
    fixed-round formulation of Montresor et al. 2013) over an undirected
    graph — the dense "core" of the entity co-occurrence KG, the standard
    pre-filter for KG-embedding training sets and influence analysis.

    edges: directed pairs, symmetrized + deduped internally.
    -> (node, degree): nodes surviving `rounds` synchronous peel rounds at
    threshold k, with their degree INSIDE the surviving subgraph.

    Each round: one degree groupBy + one semi-join of the edge set against
    the surviving nodes (both keyed on the node — co-partitioned, no
    skew-side cartesian). A FIXED round count keeps the whole computation
    replayable in SQL (the label_propagation/global_pagerank convention
    here); peeling converges in <= max-degeneracy-depth rounds, and at KG
    scale each round is two shuffles, so callers size `rounds` to the
    graph (3 suffices for the co-occurrence graphs in tests; pass the
    measured peel depth for deeper graphs). localCheckpoint truncates
    lineage per round.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = (
        e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    for _ in range(rounds):
        keep = (
            sym.groupBy("_s")
            .agg(F.count("*").alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("_s")
        )
        sym = (
            sym.join(keep, "_s", "left_semi")
            .join(keep.withColumnRenamed("_s", "_d"), "_d", "left_semi")
            .select("_s", "_d")
            .localCheckpoint(eager=False)
        )
    return (
        sym.groupBy(F.col("_s").alias("node"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def core_numbers(
    edges: DataFrame,
    max_k: int = 4,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Coreness (core number) per node: the largest k <= max_k for which
    the node survives k-core peeling. Peels ascending k, each level
    starting from the previous level's surviving subgraph (k-core ⊆
    (k-1)-core, so the edge set only shrinks — the ascending-k reuse that
    makes this max_k * rounds shuffles total instead of re-peeling the
    full graph per level). -> (node, coreness) for every node of the
    symmetrized graph (isolated-by-peeling nodes get coreness 0 if they
    had an edge but survive no 1-core round... in practice every node
    with an edge survives k=1 unless peeling removed its last neighbor,
    in which case it reports the last level it survived)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = (
        e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    result = sym.select(F.col("_s").alias("node")).distinct().withColumn(
        "coreness", F.lit(0)
    )
    current = sym
    for level in range(1, max_k + 1):
        for _ in range(rounds):
            keep = (
                current.groupBy("_s")
                .agg(F.count("*").alias("_deg"))
                .filter(F.col("_deg") >= level)
                .select("_s")
            )
            current = (
                current.join(keep, "_s", "left_semi")
                .join(keep.withColumnRenamed("_s", "_d"), "_d", "left_semi")
                .select("_s", "_d")
                .localCheckpoint(eager=False)
            )
        survivors = (
            current.groupBy("_s")
            .agg(F.count("*").alias("_deg"))
            .filter(F.col("_deg") >= level)
            .select(F.col("_s").alias("node"))
        )
        result = (
            result.join(
                survivors.withColumn("_lvl", F.lit(level)), "node", "left"
            )
            .select(
                "node",
                F.coalesce(F.col("_lvl"), F.col("coreness")).alias("coreness"),
            )
            .localCheckpoint(eager=False)
        )
    return result


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed graph,
    fixed synchronous iterations with L2 normalization per half-step —
    on the bipartite document→entity mention graph this scores documents
    as hubs (they cite many authoritative entities) and entities as
    authorities (they are cited by good hub documents), the classic
    link-analysis complement to global_pagerank's single score.

    edges: directed (src, dst), deduped internally (HITS is defined on
    the adjacency set, not multiplicities). -> (node, hub, authority)
    for every node of the graph; sinks get hub 0, sources authority 0.

    Per iteration: two equi-join + groupBy-sum rounds keyed on the node
    (authority pull then hub pull), each followed by a broadcast scalar
    L2 norm — the aggregate is a single row, so the normalization is a
    broadcast crossJoin, not a shuffle. Fixed rounds + deterministic
    float math = replayable in SQL (the global_pagerank convention;
    consumers round at the output)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    scores = nodes.withColumn("hub", F.lit(1.0)).withColumn(
        "authority", F.lit(1.0)
    )
    for _ in range(iterations):
        auth = (
            scores.select(F.col("node").alias("_s"), "hub")
            .join(e, "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("hub").alias("_a"))
        )
        scores = (
            scores.join(auth, "node", "left")
            .withColumn("_a", F.coalesce(F.col("_a"), F.lit(0.0)))
        )
        a_norm = scores.agg(
            F.sqrt(F.sum(F.col("_a") * F.col("_a"))).alias("_n")
        )
        scores = (
            scores.crossJoin(F.broadcast(a_norm))
            .select(
                "node",
                "hub",
                (F.col("_a") / F.col("_n")).alias("authority"),
            )
        )
        hub = (
            scores.select(F.col("node").alias("_d"), "authority")
            .join(e, "_d")
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum("authority").alias("_h"))
        )
        scores = (
            scores.join(hub, "node", "left")
            .withColumn("_h", F.coalesce(F.col("_h"), F.lit(0.0)))
        )
        h_norm = scores.agg(
            F.sqrt(F.sum(F.col("_h") * F.col("_h"))).alias("_n")
        )
        scores = (
            scores.crossJoin(F.broadcast(h_norm))
            .select(
                "node",
                (F.col("_h") / F.col("_n")).alias("hub"),
                "authority",
            )
            .localCheckpoint(eager=False)
        )
    return scores


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss peeling (Cohen 2008) — the edge-level cohesion analogue of
    k_core: an edge survives while it participates in >= k-2 triangles
    among surviving edges. Trusses are the standard "reliable relation"
    filter for noisy KG edges (an edge supported by triangles is
    corroborated by a third entity).

    edges: undirected pairs, canonicalized (min,max) + deduped, self
    loops dropped. -> (src, dst, support): edges surviving `rounds`
    synchronous peel rounds, with the triangle support computed in the
    LAST round (the value that justified keeping them).

    Per round: triangles enumerate via the wedge self-join closed
    against the edge set (the triangle_counts join shape — bounded by
    sum-of-degrees-squared, never all-pairs), each triangle credits its
    three edges, one groupBy-count, one semi-filter. Fixed rounds keeps
    it SQL-replayable (the k_core convention)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    min_support = k - 2
    out = None
    for _ in range(rounds):
        wedge = (
            e.alias("l")
            .join(e.alias("r"), F.col("l.u") == F.col("r.u"))
            .where(F.col("l.v") < F.col("r.v"))
            .select(
                F.col("l.u").alias("x"),
                F.col("l.v").alias("y"),
                F.col("r.v").alias("z"),
            )
        )
        tri = wedge.join(
            e.select(F.col("u").alias("y"), F.col("v").alias("z")),
            ["y", "z"],
        )
        support = (
            tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
            .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
            .groupBy("u", "v")
            .agg(F.count("*").alias("support"))
        )
        out = (
            e.join(support, ["u", "v"], "left")
            .select(
                "u",
                "v",
                F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            )
            .filter(F.col("support") >= min_support)
            .localCheckpoint(eager=False)
        )
        e = out.select("u", "v")
    return out.select(
        F.col("u").alias(src), F.col("v").alias(dst), "support"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    exclude_adjacent: bool = True,
) -> DataFrame:
    """Adamic-Adar link-prediction scores over an undirected edge list:
    for every canonical pair (a < b) with >= 1 common neighbor,
    score = sum over common neighbors y of 1/ln(deg(y)) — the
    frequency-weighted refinement of two_hop_pairs' raw
    common-neighbors count (Adamic & Adar 2003, "Friends and neighbors
    on the Web"; Liben-Nowell & Kleinberg 2007 rank it the strongest
    of the local predictors). Rare shared neighbors count more than
    celebrity hubs — exactly the right prior for KG completion, where
    co-occurring through <United_States> says far less than through a
    niche entity. -> (a, b, n_common, score), score rounded to 6.

    Scale shape: identical wedge self-join as neighborhood_jaccard
    (candidates ONLY from shared intermediates, never all-pairs); the
    intermediate's degree rides the wedge join (one broadcast-size
    degree dim joined pre-wedge on the intermediate key), so the
    per-pair aggregation is one map-side-combinable groupBy. A common
    neighbor of a distinct pair has degree >= 2, so ln(deg) >= ln 2 —
    no zero division by construction. With exclude_adjacent (the
    link-prediction form), existing edges leave via one anti-join."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    deg = sym.groupBy("_s").agg(F.count("*").alias("deg"))
    mid_deg = deg.select(
        F.col("_s").alias("_d"), F.col("deg").alias("_mdeg")
    )
    wedge = (
        sym.join(mid_deg, "_d")
        .alias("l")
        .join(sym.alias("r"), F.col("l._d") == F.col("r._d"))
        .where(F.col("l._s") < F.col("r._s"))
        .groupBy(F.col("l._s").alias("a"), F.col("r._s").alias("b"))
        .agg(
            F.count("*").alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("l._mdeg"))), 6
            ).alias("score"),
        )
    )
    if exclude_adjacent:
        canon = sym.where(F.col("_s") < F.col("_d")).select(
            F.col("_s").alias("a"), F.col("_d").alias("b")
        )
        wedge = wedge.join(canon, ["a", "b"], "left_anti")
    return wedge


def graph_summary(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row global profile of an undirected graph: n_nodes, n_edges,
    avg_degree, max_degree, global clustering coefficient
    (3·triangles / wedges — the transitivity ratio of Newman 2003
    §III.B, NOT the mean of local coefficients) and degree
    assortativity (Newman 2002: Pearson correlation of endpoint
    degrees over the symmetrized edge list). The five-number health
    check run on every KG build before shipping it — a collapsed
    assortativity or clustering value between snapshots flags an
    extraction regression upstream.

    All aggregates are scalar reductions over the edge/degree/triangle
    tables (every one map-side-combinable); triangles reuse the
    degree-ordered compact-forward operator, so the profile inherits
    its O(sqrt(m)) wedge bound. Floats round to 6 for cross-engine
    replay."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    counts = e.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.max("deg").alias("max_degree"),
            F.round(F.avg("deg"), 6).alias("avg_degree"),
            F.sum(
                F.col("deg") * (F.col("deg") - 1) / F.lit(2)
            ).alias("_wedges"),
        )
    )
    tri_total = triangle_counts(e, "a", "b").agg(
        F.coalesce(F.sum("n_triangles"), F.lit(0)).alias("_tri3")
    )
    da = deg.select(F.col("a"), F.col("deg").alias("_du"))
    db = deg.select(
        F.col("a").alias("b"), F.col("deg").alias("_dv")
    )
    # Pearson r spelled out with try_divide: a degree-regular graph has
    # zero endpoint-degree variance, where ANSI-mode corr() raises and
    # SQL engines return NULL — try_divide gives the NULL convention.
    # Degrees are small ints, so the sums are exact in doubles and the
    # one-pass formula replays bit-stably cross-engine at round(6).
    x, y = F.col("_du").cast("double"), F.col("_dv").cast("double")
    assort = (
        sym.join(da, "a")
        .join(db, "b")
        .agg(
            F.count("*").alias("_n"),
            F.sum(x).alias("_sx"),
            F.sum(y).alias("_sy"),
            F.sum(x * x).alias("_sxx"),
            F.sum(y * y).alias("_syy"),
            F.sum(x * y).alias("_sxy"),
        )
        .select(
            F.round(
                F.try_divide(
                    F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
                    F.sqrt(
                        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
                        * (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy"))
                    ),
                ),
                6,
            ).alias("assortativity")
        )
    )
    return (
        counts.crossJoin(tri_total)
        .crossJoin(assort)
        .select(
            "n_nodes",
            "n_edges",
            "avg_degree",
            "max_degree",
            (F.col("_tri3") / F.lit(3)).cast("long").alias("n_triangles"),
            F.round(
                F.when(F.col("_wedges") > 0, F.col("_tri3") / F.col("_wedges"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("transitivity"),
            "assortativity",
        )
    )


def katz_centrality(
    edges: DataFrame,
    iterations: int = 4,
    alpha: float = 0.1,
    beta: float = 1.0,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality (Katz 1953) over a directed edge set: the
    attenuated count of ALL inbound walks, x = Σ_k α^k (Aᵀ)^k · β·1,
    computed by the truncated fixed-point iteration
    x_{t+1}(v) = β + α · Σ_{u→v} x_t(u), x_0 = β·1.

    Complements PageRank in the KG entity-importance toolbox: no
    out-degree normalization, so a node cited by well-cited nodes scores
    high even when its citers also point elsewhere (PageRank splits
    their mass; Katz does not). α must stay below 1/λ_max for the full
    series to converge — at the default 0.1 the truncation error after
    4 rounds is ≤ (α·λ)^5, already sub-rounding for co-occurrence
    graphs.

    -> (node, katz). Each iteration is one equi-join + one groupBy-sum
    keyed on the node (co-partitioned, map-side partial agg), lineage
    truncated per round; deterministic, so a SQL twin unrolling the same
    rounds reproduces it bit-for-bit after rounding.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    x = nodes.withColumn("katz", F.lit(float(beta)))
    for _ in range(iterations):
        inflow = (
            x.withColumnRenamed("node", "_s")
            .join(e, "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("katz").alias("_in"))
        )
        x = (
            nodes.join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha))
                    * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("katz"),
            )
            .localCheckpoint(eager=False)
        )
    return x


def deterministic_walks(
    edges: DataFrame,
    walk_length: int = 3,
    walks_per_node: int = 2,
    seed: str = "w",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Graph-context corpus generation: fixed-length walks from every
    node, the sampling stage of DeepWalk/node2vec (Perozzi 2014, Grover
    2016) re-expressed so the result is REPRODUCIBLE on any cluster —
    at each step the walk takes the neighbor minimizing
    md5(walk_id ⊕ step ⊕ neighbor), a deterministic hash draw instead of
    an RNG (per-partition RNG state never survives re-execution of a
    failed task; a content hash does).

    -> (walk_id, step, node) with step 0..walk_length, walk_id =
    "<seed>:<start>:<w>". Dead ends stop early. Each step is one
    equi-join on the frontier + one hash-argmin (min_by) groupBy —
    walks advance in lockstep, so a length-L walk costs L co-partitioned
    join rounds over |nodes|·walks_per_node frontier rows, never a
    per-walk task.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    starts = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .crossJoin(
            F.broadcast(
                e.sparkSession.range(walks_per_node).select(
                    F.col("id").cast("string").alias("_w")
                )
            )
        )
        .select(
            F.concat(
                F.lit(seed), F.lit(":"), F.col("node"), F.lit(":"), F.col("_w")
            ).alias("walk_id"),
            F.lit(0).alias("step"),
            "node",
        )
    )
    out = starts
    frontier = starts
    for k in range(1, walk_length + 1):
        nxt = (
            frontier.withColumnRenamed("node", "_s")
            .join(e, "_s")
            .groupBy("walk_id")
            .agg(
                F.min_by(
                    F.col("_d"),
                    F.md5(
                        F.concat_ws(
                            "\x1f",
                            F.col("walk_id"),
                            F.lit(str(k)),
                            F.col("_d"),
                        )
                    ),
                ).alias("node")
            )
            .select("walk_id", F.lit(k).alias("step"), "node")
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(nxt)
        frontier = nxt
    return out


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph: the partition
    the reference needs wherever a "hierarchy" is not actually acyclic —
    Wikipedia redirect loops (`RedirectResolver` breaks them ad hoc),
    category cycles, skos:broader cycles in imported vocabularies. The
    condensation (one node per SCC) is the DAG every closure/entailment
    operator assumes; running them on the raw graph without collapsing
    SCCs first re-derives each cycle's facts once per member.

    Algorithm: mutual reachability over the repeated-squaring transitive
    closure (closure.py:transitive_closure, log-depth rounds) — u and v
    share a component iff u→*v and v→*u; the component id is the
    minimum node id of the mutually-reachable set (including u itself,
    so singletons label themselves). One self-join of the closure on the
    reversed pair + one min-groupBy.

    Scale shape: right-sized for SCHEMA-side graphs (redirects,
    category/ontology lattices — 10^6-10^7 nodes), where the closure is
    the artifact being built anyway. For billion-node instance graphs
    use label_propagation on the symmetrized graph first and run this
    inside weak components. -> (node, component).
    """
    from .closure import transitive_closure

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    reach = transitive_closure(e, max_iterations=max_iterations)
    mutual = (
        reach.alias("a")
        .join(
            reach.alias("b"),
            (F.col("a.src") == F.col("b.dst")) & (F.col("a.dst") == F.col("b.src")),
        )
        .select(F.col("a.src").alias("node"), F.col("a.dst").alias("peer"))
    )
    return (
        nodes.select("node", F.col("node").alias("peer"))
        .unionByName(mutual)
        .groupBy("node")
        .agg(F.min("peer").alias("component"))
    )


def distance_matrix(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 10,
) -> DataFrame:
    """All-pairs unweighted shortest-path distances by min-plus repeated
    squaring: D_{k+1}(u,v) = min(D_k(u,v), min_w D_k(u,w) + D_k(w,v)),
    D_0 = edges at distance 1. After k rounds every distance ≤ 2^k is
    final, so diameter-D graphs converge in ceil(log2 D) joins — the
    same log-depth shape as transitive_closure but carrying the hop
    count. Fixpoint detected on (pair count, total distance), both
    monotone. -> (src, dst, dist), self-pairs excluded.

    Scale shape: output is the reach set — quadratic on dense graphs.
    Meant for the schema/entity-neighborhood graphs the centrality
    queries run on; for instance-scale graphs use shortest_paths
    (kgquery) from a bounded source set instead.
    """
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col(src) != F.col(dst))
        .distinct()
        .withColumn("dist", F.lit(1))
        .localCheckpoint()
    )
    stats = cur.agg(F.count("*"), F.sum("dist")).first()
    for _ in range(max_iterations):
        stepped = (
            cur.alias("a")
            .join(cur.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.dist") + F.col("b.dist")).alias("dist"),
            )
            .filter(F.col("src") != F.col("dst"))
            .unionByName(cur)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        nxt = stepped.agg(F.count("*"), F.sum("dist")).first()
        cur = stepped
        if tuple(nxt) == tuple(stats):
            return cur
        stats = nxt
    raise RuntimeError(
        f"distance_matrix did not converge in {max_iterations} rounds"
    )


def closeness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 10,
    sample_sources: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Closeness and harmonic centrality per node over the directed
    distance matrix. Harmonic (Marchiori & Latora 2000) sums 1/d over
    reachable targets — well-defined on disconnected graphs, the variant
    modern KG-quality stacks report; closeness uses the Wasserman-Faust
    correction (r/(n-1)) · (r/Σd) so partial reach is penalized rather
    than rewarded. One distance_matrix + one groupBy.

    -> (node, reached, total_dist, closeness, harmonic); nodes that
    reach nothing (pure sinks) appear with reached=0 and 0.0 scores.

    ``sample_sources=k`` (r5) switches to the probe estimator (Eppstein
    & Wang 2001 / Brandes & Pich 2007): k deterministic hash-chosen
    pivot TARGETS, one reverse pivot-restricted bfs_sigma (d(v→t) for
    every v and pivot t — state O(k·V), never the V² distance matrix),
    then per node the pivot sums are scaled by (n-1)/k'(v) with
    k'(v) = k minus one when v is itself a pivot (its d=0 self-row
    carries no information). reached/total_dist become DOUBLE estimates
    in this mode; with k >= |V| the estimates equal the exact values
    (the property the error-bound test pins). k must be >= 2 (ValueError
    otherwise, as in betweenness): a lone pivot has k'(v) = 0.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if sample_sources is not None:
        nodes = nodes.localCheckpoint()
        n_total = nodes.count()
        k = min(int(sample_sources), n_total)
        if k < 2:
            raise ValueError("sample_sources needs >= 2 pivots")
        pivots = _hash_pivots(nodes, k).localCheckpoint()
        rev = bfs_sigma(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            max_rounds=max_rounds,
            sources=pivots,
        )
        per = (
            rev.filter(F.col("dist") > 0)
            .groupBy(F.col("node"))
            .agg(
                F.count("*").alias("_r"),
                F.sum("dist").alias("_sum_d"),
                F.sum(F.lit(1.0) / F.col("dist")).alias("_sum_inv"),
            )
        )
        is_pivot = pivots.withColumn("_is_pivot", F.lit(1))
        kp = F.lit(k) - F.coalesce(F.col("_is_pivot"), F.lit(0))
        scale = F.lit(float(n_total - 1)) / kp
        return (
            nodes.join(per, "node", "left")
            .join(is_pivot, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_r") * scale, F.lit(0.0)).alias("reached"),
                F.coalesce(F.col("_sum_d") * scale, F.lit(0.0)).alias(
                    "total_dist"
                ),
                F.when(
                    F.col("_sum_d").isNotNull(),
                    (F.col("_r") / kp) * (F.col("_r") / F.col("_sum_d")),
                )
                .otherwise(F.lit(0.0))
                .alias("closeness"),
                F.coalesce(F.col("_sum_inv") * scale, F.lit(0.0)).alias(
                    "harmonic"
                ),
            )
        )
    n_total = nodes.count()
    d = distance_matrix(e, max_iterations=max_iterations)
    per = d.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("reached"),
        F.sum("dist").alias("total_dist"),
        F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
    )
    return nodes.join(per, "node", "left").select(
        "node",
        F.coalesce(F.col("reached"), F.lit(0)).alias("reached"),
        F.coalesce(F.col("total_dist"), F.lit(0)).alias("total_dist"),
        F.when(
            F.col("total_dist").isNotNull(),
            (F.col("reached") / F.lit(float(n_total - 1)))
            * (F.col("reached") / F.col("total_dist")),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
        F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic"),
    )


def condensation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Condensation DAG: collapse every strongly connected component to
    one node and keep the distinct between-component edges (self-loops
    dropped). The canonical pre-pass before closure/entailment on a
    graph that MIGHT have cycles — redirect loops, category cycles —
    because the condensation is guaranteed acyclic, so downstream
    repeated-squaring closures converge in log(depth) rounds instead of
    chasing cycles to the pair-set fixpoint. One SCC labeling + two
    broadcast-or-shuffle joins mapping endpoints + one distinct.
    -> (src, dst) over component ids.
    """
    comp = strongly_connected_components(
        edges, src=src, dst=dst, max_iterations=max_iterations
    )
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    return (
        e.join(comp.withColumnRenamed("node", "_s"), "_s")
        .withColumnRenamed("component", "src")
        .join(
            comp.withColumnRenamed("node", "_d").withColumnRenamed(
                "component", "dst"
            ),
            "_d",
        )
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def bfs_sigma(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 32,
    sources: DataFrame | None = None,
) -> DataFrame:
    """All-sources level-synchronous BFS with shortest-path COUNTING:
    -> (src, node, dist, sigma) where sigma = the number of distinct
    shortest src->node paths (σ in Brandes' notation), including the
    trivial (s, s, 0, 1) row. Each round is one equi-join frontier⋈edges
    + one groupBy-sum (σ(s,v) = Σ_{u ∈ preds at d-1} σ(s,u)) + one
    anti-join against settled — all keyed on (source, node), lineage
    truncated per round. Rounds = graph diameter (level-exact BFS can't
    square like the closure ops; the level structure IS the result).

    ``sources``: optional one-column ("node") frame restricting the BFS
    source set — the pivot-sampling hook (Brandes & Pich 2007): state
    drops from O(V·reach) to O(k·reach), which is what makes the
    centrality estimators below usable beyond schema-scale graphs.

    Scale shape: with sources=None state is the full reach set
    (src × reachable), the same class as distance_matrix — meant for
    schema-scale graphs; pass ``sources`` for instance-scale ones.
    Raises if the diameter exceeds max_rounds.
    """
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")).distinct()
    nodes = (
        e.select(F.col("_u").alias("node"))
        .unionByName(e.select(F.col("_v").alias("node")))
        .distinct()
    )
    if sources is not None:
        nodes = nodes.join(
            sources.select(F.col(sources.columns[0]).alias("node")).distinct(),
            "node",
        )
    settled = nodes.select(
        F.col("node").alias("source"),
        "node",
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    frontier = settled
    for d in range(1, max_rounds + 1):
        arrived = (
            frontier.join(e, frontier["node"] == e["_u"])
            .groupBy("source", F.col("_v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            arrived.join(
                settled.select("source", "node"), ["source", "node"], "left_anti"
            )
            .withColumn("dist", F.lit(d))
            .select("source", "node", "dist", "sigma")
            .localCheckpoint()
        )
        if new.isEmpty():
            return settled
        settled = settled.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    raise RuntimeError(f"bfs_sigma did not finish in {max_rounds} rounds")


def _hash_pivots(nodes: DataFrame, k: int) -> DataFrame:
    """Deterministic pivot sample: the k nodes with the smallest md5(node)
    — uniform-ish over the node set, reproducible across runs/engines
    (DuckDB mirrors it as ORDER BY md5(node), node LIMIT k), and planned
    as TakeOrderedAndProject (per-partition top-k + driver merge, never a
    global sort). Brandes & Pich 2007 show uniformly random pivots are
    the robust default for centrality estimation; a content hash is the
    deterministic stand-in the oracle gate needs."""
    return nodes.orderBy(F.md5(F.col("node")), F.col("node")).limit(k)


def betweenness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 32,
    sample_sources: int | None = None,
) -> DataFrame:
    """Exact betweenness centrality (Brandes 2001) for a directed
    unweighted graph, computed through the pair-dependency identity
    instead of the backward accumulation pass:

        B(v) = Σ_{s≠v≠t, σ(s,t)>0} σ(s,v)·σ(v,t) / σ(s,t)
               subject to d(s,v) + d(v,t) = d(s,t)

    — v lies on a shortest s→t path iff the distances compose, and then
    exactly σ(s,v)·σ(v,t) of the σ(s,t) paths pass through it. This
    trades Brandes' O(nm) dependency recursion (which needs per-level
    synchronized backward rounds — awkward as DataFrame ops) for three
    equi-joins over the (src, node, dist, sigma) table: join s→v with
    v→t on the midpoint, then s→t on the endpoints with the distance
    filter. Catalyst plans hash joins keyed on the midpoint/source —
    no cross product.

    Scale: with sample_sources=None, APSP-based — the exact-centrality
    scale class (schema graphs, entity neighborhoods; the same honesty
    note as distance_matrix/closeness). -> (node, betweenness), nodes
    never on any shortest path report 0.0.

    ``sample_sources=k`` (r5) switches to the PAIR-SAMPLED estimator
    (Brandes & Pich 2007 pivot idea, pair form): k deterministic
    hash-chosen pivots, one forward and one reverse pivot-restricted
    bfs_sigma (state O(k·V) instead of O(V²)), and

        B̂(v) = n(n-1)/(k(k-1)) ·
               Σ_{s,t ∈ P, s≠t} σ_f(s,v)·σ_r(t,v)/σ_f(s,t)
               subject to d_f(s,v) + d_r(t,v) = d_f(s,t), s≠v≠t

    where σ_r counts shortest paths on the REVERSED graph (σ_r(t,v) =
    σ(v,t)), so no BFS from non-pivot nodes is ever run. Unbiased over
    uniformly-chosen pivot pairs; with k >= |V| every pair is
    enumerated and B̂ == B exactly (the property the error-bound test
    pins). Same triple equi-join shape as the exact path.
    """
    if sample_sources is not None:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        n = nodes.count()
        k = min(int(sample_sources), n)
        if k < 2:
            raise ValueError("sample_sources needs >= 2 pivots")
        pivots = _hash_pivots(nodes, k).localCheckpoint()
        fwd = bfs_sigma(e, max_rounds=max_rounds, sources=pivots)
        rev = bfs_sigma(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            max_rounds=max_rounds,
            sources=pivots,
        )
        sv = fwd.select(
            F.col("source").alias("s"),
            F.col("node").alias("v"),
            F.col("dist").alias("d_sv"),
            F.col("sigma").alias("sig_sv"),
        ).filter(F.col("s") != F.col("v"))
        tv = rev.select(
            F.col("source").alias("t"),
            F.col("node").alias("v"),
            F.col("dist").alias("d_vt"),
            F.col("sigma").alias("sig_vt"),
        ).filter(F.col("t") != F.col("v"))
        st = fwd.select(
            F.col("source").alias("s"),
            F.col("node").alias("t"),
            F.col("dist").alias("d_st"),
            F.col("sigma").alias("sig_st"),
        ).filter(F.col("s") != F.col("t")).join(
            pivots.withColumnRenamed("node", "t"), "t"
        )
        scale = (n * (n - 1)) / float(k * (k - 1))
        contrib = (
            sv.join(tv, "v")
            .filter(F.col("s") != F.col("t"))
            .join(st, ["s", "t"])
            .filter(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
            .groupBy(F.col("v").alias("node"))
            .agg(
                (
                    F.lit(scale)
                    * F.sum(
                        F.col("sig_sv") * F.col("sig_vt") / F.col("sig_st")
                    )
                ).alias("betweenness")
            )
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
        )
    D = bfs_sigma(edges, src=src, dst=dst, max_rounds=max_rounds)
    sv = D.select(
        F.col("source").alias("s"),
        F.col("node").alias("v"),
        F.col("dist").alias("d_sv"),
        F.col("sigma").alias("sig_sv"),
    ).filter(F.col("s") != F.col("v"))
    vt = D.select(
        F.col("source").alias("v"),
        F.col("node").alias("t"),
        F.col("dist").alias("d_vt"),
        F.col("sigma").alias("sig_vt"),
    ).filter(F.col("v") != F.col("t"))
    st = D.select(
        F.col("source").alias("s"),
        F.col("node").alias("t"),
        F.col("dist").alias("d_st"),
        F.col("sigma").alias("sig_st"),
    ).filter(F.col("s") != F.col("t"))
    contrib = (
        sv.join(vt, "v")
        .filter(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .filter(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        .groupBy(F.col("v").alias("node"))
        .agg(
            F.sum(
                F.col("sig_sv") * F.col("sig_vt") / F.col("sig_st")
            ).alias("betweenness")
        )
    )
    nodes = D.filter(F.col("dist") == 0).select(F.col("node"))
    return nodes.join(contrib, "node", "left").select(
        "node", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def eccentricity_profile(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 10,
    sample_sources: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Per-node eccentricity over the directed distance matrix — the
    graph-radius/diameter profile (diameter = max eccentricity, radius
    = min over nodes with full reach): how deep the KG's longest
    dependency chains run, the number that bounds every iterative
    operator's round count (closure, SSSP, type propagation all
    converge in <= diameter rounds). Directed + possibly disconnected,
    so eccentricity is over the REACHED set and reached is reported
    alongside (a node reaching 2 of 10^6 nodes with ecc 1 is a leaf,
    not a center). One distance_matrix + one groupBy.
    -> (node, reached, eccentricity); pure sinks report (0, 0).

    ``sample_sources=k`` (r5, completing the exact-APSP family's
    sampled path): k deterministic hash-chosen probe TARGETS, one
    reverse pivot-restricted bfs_sigma — per node, `reached` counts
    probes hit and `eccentricity` is max distance TO a probe, a
    guaranteed LOWER BOUND on the true eccentricity (the max over a
    subset; the standard probe estimate — diameter lower-bounding à la
    Magnien/Latapy/Habib). With k >= |V| the bound is exact and equals
    the full profile. State O(k·V), never the V² matrix.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if sample_sources is not None:
        nodes = nodes.localCheckpoint()
        n_total = nodes.count()
        k = min(int(sample_sources), n_total)
        if k < 1:
            raise ValueError("sample_sources needs >= 1 pivot")
        pivots = _hash_pivots(nodes, k).localCheckpoint()
        rev = bfs_sigma(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            max_rounds=max_rounds,
            sources=pivots,
        )
        per = (
            rev.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(
                F.count("*").alias("reached"),
                F.max("dist").alias("eccentricity"),
            )
        )
        return nodes.join(per, "node", "left").select(
            "node",
            F.coalesce("reached", F.lit(0)).alias("reached"),
            F.coalesce("eccentricity", F.lit(0)).alias("eccentricity"),
        )
    d = distance_matrix(e, max_iterations=max_iterations)
    per = d.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("reached"),
        F.max("dist").alias("eccentricity"),
    )
    return nodes.join(per, "node", "left").select(
        "node",
        F.coalesce("reached", F.lit(0)).alias("reached"),
        F.coalesce("eccentricity", F.lit(0)).alias("eccentricity"),
    )


def propagate_types(
    types: DataFrame,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Type completion by neighbor vote — assign every UNTYPED node the
    majority type among its typed neighbors (both edge directions),
    ties broken by (count desc, class asc) so the result is
    deterministic across engines. The standard KG type-completion
    baseline (SDType's voting core, Paulheim & Bizer ISWC'13) for
    entities the extractor linked but never typed.

    types(inst, cls): the known assignments. One symmetrized edge join
    against the typed side, one (node, cls) count, one row_number —
    shuffle keyed on the node throughout. Already-typed nodes are
    excluded from the output (their types are facts, not guesses).
    -> (inst, cls, votes).
    """
    sym = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("peer")
    ).unionByName(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("peer"))
    )
    votes = (
        sym.join(
            types.select(F.col("inst").alias("peer"), "cls"), "peer"
        )
        .join(
            types.select(F.col("inst").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .groupBy("node", "cls")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("votes").desc(), F.col("cls").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("node").alias("inst"), "cls", "votes")
    )


def link_prediction_ranks(
    scores: DataFrame,
    test_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    score: str = "score",
) -> DataFrame:
    """Filtered link-prediction ranks — the KB-completion evaluation
    protocol (Bordes et al. NIPS'13, applied to any scorer: Adamic-Adar,
    FastRP cosine, a trained model's output): for each held-out edge
    (u, v), rank = 1 + |{w : score(u,w) > score(u,v)}| + |{w :
    score(u,w) = score(u,v), w < v}| among the scorer's candidates for
    u — the deterministic competition ranking both engines replay
    exactly. Test pairs the scorer never produced (no common neighbor,
    say) come back with rank NULL: a miss the caller scores as 0
    reciprocal rank, never silently dropped.

    One equi-join of test edges onto the per-source candidate lists +
    one conditional count — shuffle keyed on the source node.
    -> (src, dst, rank, reciprocal_rank).
    """
    s = scores.select(
        F.col(src).alias("_u"), F.col(dst).alias("_w"),
        F.col(score).alias("_sc"),
    )
    t = test_edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    target = t.join(
        s.withColumnRenamed("_w", "_v").withColumnRenamed("_sc", "_target"),
        ["_u", "_v"],
        "left",
    )
    joined = target.join(s, "_u", "left")
    beat = (
        (F.col("_sc") > F.col("_target"))
        | ((F.col("_sc") == F.col("_target")) & (F.col("_w") < F.col("_v")))
    ).cast("long")
    ranks = joined.groupBy("_u", "_v", "_target").agg(
        F.sum(beat).alias("_n_beat")
    )
    rank = F.when(
        F.col("_target").isNotNull(), F.col("_n_beat") + 1
    ).cast("long")
    return ranks.select(
        F.col("_u").alias("src"),
        F.col("_v").alias("dst"),
        rank.alias("rank"),
        F.when(rank.isNotNull(), F.lit(1.0) / rank).alias("reciprocal_rank"),
    )


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Eigenvector centrality by truncated power iteration with per-round
    L2 normalization: x_{t+1} = Aᵀx_t / ||Aᵀx_t||₂, x_0 = 1/√n —
    Bonacich 1972, the un-dampened ancestor of PageRank and the
    un-attenuated sibling of Katz: a node matters exactly as much as
    the (recursively weighted) nodes that point at it, with no teleport
    smoothing and no β floor, so mass concentrates on the dominant
    eigenvector's support. Completes this module's centrality suite
    (degree/PageRank/Katz/HITS/closeness/harmonic/betweenness/
    eccentricity) — each answers a different "which entity matters"
    question and real KG pipelines report several side by side.

    Each round: one equi-join + one groupBy-sum keyed on the node, then
    a scalar L2 reduce for the normalizer (deterministic — same float
    order via round-robin sum? No: sum order is partition-dependent, so
    the QUERY twin rounds to 6 dp after the final round, the same
    resync every float oracle in this repo uses). Lineage truncated per
    round. -> (node, eigenvector); nodes with no inbound path from the
    dominant component decay toward 0.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n = nodes.count()
    x = nodes.withColumn("x", F.lit(1.0 / float(n) ** 0.5))
    for _ in range(iterations):
        inflow = (
            x.withColumnRenamed("node", "_s")
            .join(e, "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("x").alias("_in"))
        )
        raw = nodes.join(inflow, "node", "left").select(
            "node", F.coalesce(F.col("_in"), F.lit(0.0)).alias("_raw")
        )
        norm = raw.agg(
            F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_n")
        ).first()["_n"]
        if not norm or norm == 0.0:
            return nodes.withColumn("eigenvector", F.lit(0.0))
        x = raw.select(
            "node", (F.col("_raw") / F.lit(float(norm))).alias("x")
        ).localCheckpoint(eager=False)
    return x.select("node", F.col("x").alias("eigenvector"))


def shortest_path_trace(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """BFS shortest paths WITH an actual witness path per node — the
    explain-the-link operator (why is entity X 3 hops from Y), where
    kg_bfs/bfs_sigma only return distances/counts. Deterministic: among
    a node's shortest-path predecessors the MIN node id is chosen as
    its parent, so the parent pointers form a forest and every node has
    exactly one canonical path — reproducible by any engine applying
    the same min-parent rule (the oracle does).

    ``edges``: (src, dst); ``sources``: one column ``source``.
    -> (source, node, dist, path) with path = '/'-joined node ids from
    source to node inclusive.

    Scale shape: phase 1 is level-synchronous BFS (one equi-join + one
    min-groupBy + one anti-join per round, lineage truncated — the
    bfs_sigma shape); phase 2 walks the parent FOREST top-down, one
    equi-join per level, state (source × reachable) like
    distance_matrix — schema-scale graphs or a bounded source set.
    Raises if the diameter exceeds max_rounds.
    """
    e = edges.select(F.col("src").alias("_u"), F.col("dst").alias("_v")).distinct()
    settled = sources.select(
        F.col("source"), F.col("source").alias("node"), F.lit(0).alias("dist"),
        F.lit(None).cast("string").alias("parent"),
    ).distinct().localCheckpoint()
    frontier = settled
    for d in range(1, max_rounds + 1):
        arrived = (
            frontier.join(e, frontier["node"] == e["_u"])
            .groupBy("source", F.col("_v").alias("node"))
            .agg(F.min(frontier["node"]).alias("parent"))
        )
        new = (
            arrived.join(
                settled.select("source", "node"), ["source", "node"], "left_anti"
            )
            .withColumn("dist", F.lit(d))
            .select("source", "node", "dist", "parent")
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        settled = settled.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    else:
        raise RuntimeError(
            f"shortest_path_trace did not finish in {max_rounds} rounds"
        )
    done = settled.filter(F.col("dist") == 0).select(
        "source", "node", "dist", F.col("node").alias("path")
    ).localCheckpoint()
    level = done
    for d in range(1, max_rounds + 1):
        nxt = settled.filter(F.col("dist") == d)
        if nxt.isEmpty():
            return done
        level = (
            nxt.join(
                level.select(
                    "source",
                    F.col("node").alias("parent"),
                    F.col("path").alias("_pp"),
                ),
                ["source", "parent"],
            )
            .select(
                "source", "node", "dist",
                F.concat(F.col("_pp"), F.lit("/"), F.col("node")).alias("path"),
            )
            .localCheckpoint()
        )
        done = done.unionByName(level)
    return done


def luby_mis(
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby, STOC '85 —
    THE parallel symmetry-breaking primitive; an MIS seeds distributed
    coloring, scheduling, and landmark selection over the entity
    graph): each round, every undecided node draws a priority and
    joins the MIS iff its (priority, id) is a strict local minimum
    among its undecided neighbors; selected nodes and their neighbors
    leave the game. Priorities are DETERMINISTIC —
    md5_48(node ∥ 0x1f ∥ round) — so the *sampled* run itself replays
    bit-identically across executors and engines (the random_walks /
    negative_samples hash scheme), and the per-round re-draw keeps
    Luby's O(log n) expected round bound.

    ``edges``: (src, dst), symmetrized internally, self-loops dropped.
    -> (node, round): the MIS members and the round that selected
    them. Isolated nodes never appear in `edges`; callers wanting them
    append all-degree-0 nodes (trivially independent) themselves.

    Scale shape per round: ONE equi-join (undecided edges x priorities)
    + ONE groupBy-min for the neighborhood minimum + two anti-joins for
    the removal — all hash-partitioned on node; lineage truncated per
    round (localCheckpoint), the iterative-op contract shared with
    label_propagation/k_core above. Raises after max_rounds without
    convergence (expected rounds ~ log n; 16 covers any plausible KG).
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    e = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint()
    und = (
        e.select(F.col("u").alias("node")).distinct().localCheckpoint()
    )
    out = None
    for r in range(1, max_rounds + 1):
        pr = und.withColumn(
            "_h",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x1f", "node", F.lit(str(r)))), 1, 12
                ),
                16,
                10,
            ).cast("long"),
        )
        live = (
            e.join(pr.select(F.col("node").alias("u")), "u")
            .join(pr.select(F.col("node").alias("v")), "v")
            .select("u", "v")
        )
        nbr_min = (
            live.join(
                pr.select(
                    F.col("node").alias("v"),
                    F.col("_h").alias("_nh"),
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.min(F.struct(F.col("_nh"), F.col("v"))).alias("_m"))
        )
        sel = (
            pr.join(nbr_min, "node", "left")
            .filter(
                F.col("_m").isNull()
                | (F.struct(F.col("_h"), F.col("node")) < F.col("_m"))
            )
            .select("node")
            .localCheckpoint()
        )
        picked = sel.withColumn("round", F.lit(r))
        out = picked if out is None else out.unionByName(picked)
        removed = sel.unionByName(
            live.join(sel.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
        ).distinct()
        und = und.join(removed, "node", "left_anti").localCheckpoint()
        if und.isEmpty():
            return out
    raise RuntimeError(f"luby_mis did not converge in {max_rounds} rounds")


def neighborhood_aggregate(
    edges: DataFrame,
    features: DataFrame,
    hops: int = 2,
    scale: int | None = None,
) -> DataFrame:
    """GraphSAGE-mean style k-hop feature smoothing (Hamilton et al.
    NeurIPS 2017, the aggregation step precomputed as a table): h_0 =
    the input feature; h_k(v) = mean of h_{k-1} over v ∪ N(v)
    (undirected). The standard "propagate entity salience / quality
    scores over the link graph" primitive, and the feature half of a
    decoupled GNN (SGC / SIGN) where the network itself is just
    logistic regression on these columns.

    ``edges``: (src, dst); ``features``: (node, value double). Nodes
    absent from `features` but present in `edges` contribute nothing
    and receive means over their scored neighbors only (inner joins —
    the caller decides imputation policy upstream).

    -> (node, value, value_k) with value_k the hop-`hops` smoothed
    feature.

    ``scale=None``: double arithmetic, each hop rounded to 6 (the
    fact_fusion convention) — fine for modeling, but the LAST mean is
    still a raw double whose rounding can land 1 ulp apart between
    summation orders (engines, partitionings). ``scale=d``: EXACT
    fixed-point mode — values quantized to 10^-d units as BIGINTs, the
    per-hop mean computed as the half-up integer division
    (2·sum + n) div (2·n) after an offset shift keeps everything
    positive (so truncating and flooring division agree across
    engines) — bit-identical on any engine and any partitioning, the
    mode the oracle checks. Overflow bound: max |value|·10^d and node
    degree must satisfy degree · (2^40 + value·10^d) < 2^62.

    Scale shape per hop: ONE equi-join (symmetrized edges x current
    feature) + ONE groupBy mean over (self ∪ neighbors) — both
    hash-partitioned on node, map-side combinable; `hops` is a small
    constant.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=False)
    if scale is None:
        h = features.select("node", F.col("value").cast("double").alias("_h"))
    else:
        off = 1 << 40
        h = features.select(
            "node",
            (
                F.round(F.col("value").cast("double") * (10 ** scale), 0)
                .cast("long")
                + F.lit(off)
            ).alias("_h"),
        )
    for _ in range(hops):
        contrib = (
            sym.join(h.select(F.col("node").alias("v"), "_h"), "v")
            .select(F.col("u").alias("node"), "_h")
            .unionByName(h)
        )
        if scale is None:
            agg = F.round(F.avg("_h"), 6)
        else:
            # half-up integer mean over positive longs: exact
            agg = F.expr("(2 * sum(_h) + count(_h)) div (2 * count(_h))")
        h = (
            contrib.groupBy("node")
            .agg(agg.alias("_h"))
            .localCheckpoint(eager=False)
        )
    out_h = (
        F.col("_h")
        if scale is None
        else (F.col("_h") - F.lit(1 << 40)).cast("double") / (10 ** scale)
    )
    return (
        features.select("node", F.col("value").cast("double").alias("value"))
        .join(h, "node")
        .select("node", "value", out_h.alias(f"value_{hops}"))
    )


def community_metrics(
    edges: DataFrame,
    membership: DataFrame,
) -> DataFrame:
    """Partition-quality metrics per community (Newman modularity
    decomposition + conductance) — the QA pass after
    label_propagation/kg_communities: is a detected entity community
    actually denser inside than out, or an artifact? Modularity
    contribution Q_c = e_c/m − (d_c/2m)², conductance φ_c =
    cut_c / min(d_c, 2m − d_c) (lower = better-separated).

    ``edges``: (src, dst) undirected (symmetrized, self-loops
    dropped); ``membership``: (node, community). -> one row per
    community: (community, n_nodes, internal_edges, cut_edges,
    degree_sum, modularity round 6, conductance round 6).

    Scale shape: TWO keyed joins stamp each edge's endpoint
    communities, then ONE groupBy per community — map-side
    combinable; degrees are one more groupBy. Nothing is quadratic in
    community size; the metric aggregates, not the pair lists.
    """
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    und = (
        e.filter(F.col("u") < F.col("v"))
        .unionByName(
            e.filter(F.col("u") > F.col("v")).select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        )
        .distinct()
    )
    m = und.count()
    if m == 0:
        raise ValueError("community_metrics needs >= 1 edge")
    mem_u = membership.select(
        F.col("node").alias("u"), F.col("community").alias("_cu")
    )
    mem_v = membership.select(
        F.col("node").alias("v"), F.col("community").alias("_cv")
    )
    stamped = und.join(mem_u, "u").join(mem_v, "v")
    internal = (
        stamped.filter(F.col("_cu") == F.col("_cv"))
        .groupBy(F.col("_cu").alias("community"))
        .agg(F.count("*").alias("internal_edges"))
    )
    cut = (
        stamped.filter(F.col("_cu") != F.col("_cv"))
        .select(F.col("_cu").alias("community"))
        .unionByName(
            stamped.filter(F.col("_cu") != F.col("_cv")).select(
                F.col("_cv").alias("community")
            )
        )
        .groupBy("community")
        .agg(F.count("*").alias("cut_edges"))
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
    )
    comm_deg = (
        membership.join(deg, "node", "left")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias("degree_sum"),
        )
    )
    two_m = float(2 * m)
    out = (
        comm_deg.join(internal, "community", "left")
        .join(cut, "community", "left")
        .withColumn(
            "internal_edges",
            F.coalesce(F.col("internal_edges"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "cut_edges", F.coalesce(F.col("cut_edges"), F.lit(0)).cast("long")
        )
    )
    return out.select(
        "community",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        "internal_edges",
        "cut_edges",
        F.col("degree_sum").cast("long").alias("degree_sum"),
        F.round(
            F.col("internal_edges") / F.lit(float(m))
            - F.pow(F.col("degree_sum") / F.lit(two_m), 2),
            6,
        ).alias("modularity"),
        F.round(
            F.when(
                F.least(
                    F.col("degree_sum"),
                    F.lit(two_m) - F.col("degree_sum"),
                )
                > 0,
                F.col("cut_edges")
                / F.least(
                    F.col("degree_sum"), F.lit(two_m) - F.col("degree_sum")
                ),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("conductance"),
    )


def induced_subgraph_sample(
    edges: DataFrame,
    rate: float,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic node-induced subgraph sample: keep each NODE with
    probability `rate` by md5-bucket hash (the stratified_sample
    scheme), keep an edge iff BOTH endpoints survive — the standard
    way to get a debuggable mini-graph whose degree correlations are
    honest (edge sampling biases against high-degree nodes; node
    induction does not), reproducible across runs, engines, and
    cluster sizes.

    -> the surviving (src, dst) edges. Expected edge survival is
    rate², the price of unbiased induction — size `rate` accordingly.

    Scale shape: zero joins — the keep test is a per-row codegen hash
    on each endpoint column independently; no node table is even
    materialized.
    """
    if not (0.0 < rate <= 1.0):
        raise ValueError("rate must be in (0, 1]")
    hi = int(rate * buckets)

    def keep(col):
        return (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col(col).cast("string")), 25, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(buckets),
            )
            < hi
        )

    return edges.filter(keep("src") & keep("dst"))


def directed_profile(edges: DataFrame) -> DataFrame:
    """One-row DIRECTED-graph profile — the orientation-aware numbers
    graph_summary (deliberately undirected) does not report, and the
    first sanity read on an extracted relation graph: reciprocity
    (asserted both ways — in a citation-style predicate high
    reciprocity usually means extraction noise), self-loop count, and
    pure source/sink counts.

    -> (n_edges, n_self_loops, n_reciprocal, reciprocity round 6,
    n_sources, n_sinks): n_reciprocal counts ordered edges whose
    reverse exists (a<->b contributes 2); sources have out-edges but
    no in-edges, sinks the converse; self-loops are excluded from all
    reciprocity/source/sink math and reported separately.

    Scale shape: one distinct, ONE self-equi-join on the reversed key
    for reciprocity (hash join on (src, dst) — never nested-loop),
    two anti-joins for sources/sinks, scalar aggregates only.
    """
    e = edges.select("src", "dst").distinct()
    loops = e.filter(F.col("src") == F.col("dst"))
    clean = e.filter(F.col("src") != F.col("dst"))
    rev = clean.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = clean.join(rev, ["src", "dst"], "left_semi")
    srcs = clean.select("src").distinct()
    dsts = clean.select(F.col("dst").alias("src")).distinct()
    sources = srcs.join(dsts, "src", "left_anti")
    sinks = dsts.join(srcs, "src", "left_anti")
    n_e = clean.count()
    n_r = recip.count()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [
            (
                n_e,
                loops.count(),
                n_r,
                round(n_r / n_e, 6) if n_e else 0.0,
                sources.count(),
                sinks.count(),
            )
        ],
        "n_edges long, n_self_loops long, n_reciprocal long, "
        "reciprocity double, n_sources long, n_sinks long",
    )


def topological_layers(
    edges: DataFrame,
    max_rounds: int = 64,
) -> DataFrame:
    """Longest-path topological layering of a DAG (the Kahn/Coffman-
    Graham schedule view): layer(v) = 0 for nodes with no incoming
    edge, else 1 + max over predecessors — the stage number at which a
    task/derivation/ontology import can run once its prerequisites
    are done. Raises on cycles (no node ever becomes layerable), the
    correct behavior for a scheduler input rather than silently
    looping.

    ``edges``: (src, dst) meaning src BEFORE dst. -> (node, layer).

    Scale shape per round: ONE join (current layers x edges) + ONE
    groupBy-max + one anti-join, lineage truncated — the
    taxonomy_profile relaxation restated for arbitrary DAGs; rounds
    bounded by the longest path.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    roots = nodes.join(
        e.select(F.col("dst").alias("node")).distinct(), "node", "left_anti"
    )
    if roots.isEmpty():
        raise ValueError("topological_layers: graph has no source (cycle)")
    layer = roots.withColumn("layer", F.lit(0)).localCheckpoint()
    for _ in range(max_rounds):
        relaxed = (
            layer.join(e, layer["node"] == e["src"])
            .select(
                F.col("dst").alias("node"), (F.col("layer") + 1).alias("layer")
            )
            .unionByName(layer)
            .groupBy("node")
            .agg(F.max("layer").alias("layer"))
            .localCheckpoint()
        )
        same = (
            relaxed.join(layer, ["node", "layer"], "left_anti").isEmpty()
            and layer.join(relaxed, ["node", "layer"], "left_anti").isEmpty()
        )
        layer = relaxed
        if same:
            if layer.count() < nodes.count():
                raise ValueError(
                    "topological_layers: unreachable nodes (cycle "
                    "component with no source)"
                )
            return layer
    raise RuntimeError(
        f"topological_layers did not converge in {max_rounds} rounds "
        "(cycle or pathological depth)"
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    graph -> one row (n_edges, corr): the Pearson correlation of the
    endpoint degrees over the directed-both-ways edge list — positive
    means hubs link to hubs (social-graph shape), negative means
    hub-to-leaf (star/infrastructure shape); the one-number mixing
    profile next to the clustering/k-core family.

    Same exactness discipline as the ACF/A-B operators: degrees are
    integers, the five power sums are BIGINT-exact, and only the
    terminal correlation expression is floating point — so the DuckDB
    twin replays it bit-for-bit. Plan: symmetrize, one degree groupBy,
    two broadcast-joinable degree lookups, one scalar aggregate."""
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dy"))
    pairs = sym.join(du, "u").join(dv, "v").select("dx", "dy")
    agg = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    m = F.col("m")
    num = m * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = m * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = m * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        (m / 2).cast("long").alias("n_edges"),
        F.round(
            F.when(
                (varx > 0) & (vary > 0),
                num / F.sqrt(varx.cast("double") * vary.cast("double")),
            ),
            6,
        ).alias("corr"),
    )


def earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
) -> DataFrame:
    """Time-respecting (foremost-path) reachability over a TEMPORAL edge
    list (Wu et al., VLDB 2014): -> (node, arrival) — the earliest time
    each node is reachable from the sources along paths whose edge
    timestamps strictly increase, within max_hops hops. Sources carry
    arrival -1 (before every timestamp). The temporal-KG primitive
    behind "when could this fact have propagated here" provenance
    questions, where plain BFS over-reports reachability (a path using
    an older edge after a newer one never happened).

    Keeping only min(arrival) per node is lossless dominance pruning:
    with strictly-increasing-time constraints, an earlier arrival
    enables a superset of outgoing edges. Each round is one keyed
    equi-join + filter + groupBy-min, anti-joined against the known
    best so the frontier carries only improvements (same
    frontier-expansion shape as bfs_distances, plus the time filter);
    localCheckpoint truncates per-round lineage.
    """
    node_best = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(-1).cast("long").alias("arrival"),
    ).distinct().localCheckpoint(eager=True)
    frontier = node_best
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"),
        F.col(ts).cast("long").alias("_t"),
    )
    for _ in range(max_hops):
        stepped = (
            frontier.join(e, frontier["node"] == e["_s"])
            .filter(F.col("_t") > F.col("arrival"))
            .groupBy(F.col("_d").alias("node"))
            .agg(F.min("_t").alias("arrival"))
        )
        improved = (
            stepped.alias("s")
            .join(node_best.alias("b"), "node", "left")
            .filter(
                F.col("b.arrival").isNull()
                | (F.col("s.arrival") < F.col("b.arrival"))
            )
            .select("node", F.col("s.arrival").alias("arrival"))
            .localCheckpoint(eager=True)
        )
        if improved.limit(1).count() == 0:
            break
        node_best = (
            node_best.unionByName(improved)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return node_best


def powerlaw_alpha(
    edges: DataFrame, src: str = "src", dst: str = "dst", d_min: int = 1
) -> DataFrame:
    """Power-law exponent MLE for the degree distribution (Clauset,
    Shalizi & Newman 2009, eq. 3.7 — the discrete-data approximation)
    -> one row (n_nodes, d_min, alpha):
    alpha = 1 + n / Σ ln(d_i / (d_min − 1/2)) over nodes with degree
    >= d_min; the half shift corrects the continuous MLE's systematic
    overestimate on integer degrees (verified against a synthesized
    exponent-2.5 graph in the tests). The one-number heavy-tail profile
    next to `kg_degree_hist` (is this graph scale-free enough to need
    the skew-join treatment?).

    Determinism shape: degrees are exact integers and the ln sum is a
    WEIGHTED sum over the DISTINCT degree values (cnt_d · ln(d/d_min)),
    so the float aggregation runs over the bounded degree domain, not
    the node count; 6-dp rounding absorbs the remaining summation-order
    ulps (the shard_kl precedent). NULL alpha when every kept degree
    equals d_min (zero denominator)."""
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    hist = (
        deg.filter(F.col("deg") >= d_min)
        .groupBy("deg")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    agg = hist.agg(
        F.sum("cnt").cast("long").alias("n_nodes"),
        F.sum(
            F.col("cnt") * F.log(F.col("deg") / F.lit(d_min - 0.5))
        ).alias("_lnsum"),
    )
    return agg.select(
        "n_nodes",
        F.lit(d_min).cast("long").alias("d_min"),
        F.round(
            F.when(
                F.col("_lnsum") > 0,
                F.lit(1.0) + F.col("n_nodes") / F.col("_lnsum"),
            ),
            6,
        ).alias("alpha"),
    )
