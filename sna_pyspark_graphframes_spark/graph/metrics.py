"""Whole-graph metric library — every metric a DataFrame computation.

The reference computes these driver-side with NetworkX on a collect()ed
graph (``/root/reference/main.py:129-159, 199-225``; SURVEY.md §2.2). Here
each metric is distributed and returns a DataFrame (per-vertex) or a 1-row
DataFrame (scalar), so nothing requires the graph to fit on one machine.

Conventions match NetworkX so golden tests agree (SURVEY.md §7.4 #5):
  * clustering coefficient of a vertex with degree < 2 is 0.0
  * transitivity = 3·triangles / wedges, 0.0 if no wedges

All inputs are an *undirected* edge set; pass edges through
``build.canonical_edges`` first (src < dst, deduped, no self-loops).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sna_pyspark_graphframes_spark.graph.build import induced_subgraph, symmetrize
from sna_pyspark_graphframes_spark.plans.hints import state_hinted
from sna_pyspark_graphframes_spark.plans.iterate import checkpointed


def degrees(edges: DataFrame, sym: DataFrame | None = None) -> DataFrame:
    """Per-vertex degree of the undirected graph: ``(id, degree)``.

    = GraphFrames ``g.degrees`` (used via ``nx.degree`` at
    ``/root/reference/main.py:142-144``). Symmetrize (narrow) + one
    count aggregate (map-side combine, single shuffle on id).

    ``sym`` (r8): a caller-held shared symmetrized-deduped edge frame
    (the CC/LPA/PageRank ``sym_layout``); when src-partitioned the count
    aggregate needs NO exchange at all — degree becomes a free read off
    the family's one persisted graph layout.

    CONTRACT (ADVICE r8): ``sym`` must hold exactly ONE row per directed
    arc of the symmetric closure — i.e. a DEDUPED symmetric frame, the
    shape ``_edges_partitioned(symmetrize(canonical_edges))`` produces
    (canonical input is already distinct, so both closure directions are
    distinct by construction). Passing ``symmetrize(raw, dedup=False)``
    over a multigraph-ish edge list would double-count degrees."""
    e = symmetrize(edges, dedup=True) if sym is None else sym
    return e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("degree")
    )


def degree_histogram(edges: DataFrame, normalized: bool = False) -> DataFrame:
    """``(degree, cnt)`` histogram; optionally normalized to a pmf
    (``nx.degree_histogram`` + pk at ``/root/reference/main.py:108, 132-135``).

    Note: vertices only ever appear via edges here; an isolated vertex
    contributes degree 0 only if callers union it in — matches the
    reference, whose vertex set is also edge-derived.
    """
    h = degrees(edges).groupBy("degree").agg(F.count("*").alias("cnt"))
    if normalized:
        total = degrees(edges).count()
        h = h.withColumn("pk", F.round(F.col("cnt") / F.lit(total), 6))
    return h


def _degree_oriented(
    edges: DataFrame,
    deg: DataFrame,
    n_vertices: int | None = None,
    sym: DataFrame | None = None,
) -> DataFrame:
    """Orient each canonical undirected edge from the lower-rank to the
    higher-rank endpoint, rank = (degree, id) — the node-iterator++
    orientation shared by both triangle plans. Re-orientation is a
    conditional swap, no symmetrization (input is one row per undirected
    edge). The degree table is |V| rows — smaller than |E| but it GROWS
    with the graph, so per the unbounded-frame rule (SCALE.md) it must
    not carry an unconditional broadcast hint (a hint is mandatory to the
    planner; at 10⁹ vertices it would OOM executors). It is hinted
    through the shared SIZE GATE instead (``plans.hints.state_hinted``,
    |V| counted once by the caller): broadcast while it fits, shuffle-hash
    beyond. Fully un-hinted was measured 1.5x slower at sf0.1 (7.3 s vs
    5.0 s median — AQE's broadcast conversion still pays the |E| side's
    shuffle writes before converting; REPORT.md r7).

    ``sym`` (r9, VERDICT r8 Next #3): the family's shared persisted
    SRC-partitioned symmetric layout (the CC/LPA/degrees frame — the
    deduped closure of a distinct canonical edge set). The closure holds
    BOTH arcs of every undirected edge, so orientation becomes a FILTER —
    keep exactly the lower-rank→higher-rank arc — instead of a
    conditional swap over a re-derived canonical edge set: the triangle
    family then reads the one persisted graph layout (no per-call |E|
    re-shuffle), and because the degree sides broadcast (size-gated) and
    a filter preserves partitioning, the downstream adjacency
    ``groupBy("src")`` rides the layout's partitioning with NO Exchange.
    Same oriented edge set either way."""
    if n_vertices is None:
        n_vertices = deg.count()
    ds = state_hinted(
        deg.select(F.col("id").alias("src"), F.col("degree").alias("d_src")),
        n_vertices,
    )
    dd = state_hinted(
        deg.select(F.col("id").alias("dst"), F.col("degree").alias("d_dst")),
        n_vertices,
    )
    lower_first = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
    )
    if sym is not None:
        return (
            sym.select("src", "dst")
            .join(ds, "src")
            .join(dd, "dst")
            .filter(lower_first)
            .select("src", "dst")
        )
    return (
        edges.select("src", "dst")
        .join(ds, "src")
        .join(dd, "dst")
        .select(
            F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        )
    )


def triangles_per_vertex(
    edges: DataFrame,
    deg: DataFrame | None = None,
    sym: DataFrame | None = None,
) -> DataFrame:
    """``(id, triangles)`` — number of triangles through each vertex.

    Plan (SURVEY.md §2.2 M3): orient each undirected edge from the
    lower-rank to the higher-rank endpoint, where rank = (degree, id) —
    the node-iterator++ orientation. Then enumerate each triangle exactly
    once via two self-joins:
        e1(a,b) ⋈ e2(b,c) on b  → wedge with rank(a)<rank(b)<rank(c)
        ⋈ e3(a,c)               → closed triangle
    and credit each of a, b, c.

    Why degree-ordering matters at scale: wedge count under id-orientation
    is Σ out-deg², which a power-law hub dominates; under degree-ordering
    every vertex's out-degree is O(√|E|), so the wedge join stays bounded
    on skewed graphs (Chiba–Nishizeki / Schank–Wagner arboricity bound).
    The produced triangle SET is identical, so per-vertex counts and every
    downstream metric are unchanged. Two shuffles; whole-stage codegen; no
    Python. Degree-0..1 vertices simply don't appear (callers left-join).

    When ``deg`` is not supplied it is checkpointed before use: the
    orientation's size gate needs its row count anyway, and both degree
    joins then scan the materialized |V| frame instead of re-running the
    degree aggregate once per join subtree.

    ``sym``: shared persisted symmetric layout (see ``_degree_oriented``).
    """
    deg = checkpointed(degrees(edges, sym=sym)) if deg is None else deg
    oriented = _degree_oriented(edges, deg, sym=sym)
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])  # rows = triangles, once each
    # explode, not union-of-3-selects: a union of three projections of the
    # same join re-evaluates the join subtree per branch (Catalyst has no
    # cross-branch common-subplan elimination) — measured 2.6x slower at
    # sf0.1. explode credits all three corners in ONE pass over the join.
    per_corner = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return per_corner.groupBy("id").agg(F.count("*").alias("triangles"))


def triangles_per_vertex_adjacency(
    edges: DataFrame,
    deg: DataFrame | None = None,
    sym: DataFrame | None = None,
) -> DataFrame:
    """``(id, triangles)`` — adjacency-intersection triangle variant.

    Same degree-ordered orientation and the same triangle SET as
    :func:`triangles_per_vertex`, different physical plan: build each
    vertex's oriented out-neighbor array once (one |E| shuffle), join it
    onto both endpoints of every oriented edge, and emit the triangles as
    ``explode(array_intersect(adj(a), adj(b)))`` inside whole-stage
    codegen. The wedge set (Σ out-deg², the dominant exchange of the
    wedge-join plan) is never materialized OR shuffled — the e1⋈e2
    wedge exchange plus the (a,c) probe exchange collapse into two
    adjacency joins whose build side is |V| rows (broadcast-able far
    beyond fixture scale; AQE decides past the hint bound).

    Scale caveat (SCALE.md "adjacency-as-array hub caveat"): per-row
    arrays are bounded by the orientation at O(√|E|) elements, so rows
    stay small even on power-law graphs; total adjacency payload is |E|
    longs. Intersection is hash-based: O(|adj(a)|+|adj(b)|) per edge,
    Chiba–Nishizeki overall — the same asymptotic work as the wedge
    join, minus its shuffle.

    ``deg`` handling matches :func:`triangles_per_vertex` (checkpointed
    when derived here, so the size-gate count and both degree joins read
    one materialized frame).

    ``sym`` (r9): shared persisted SRC-partitioned symmetric layout —
    orientation becomes a filter over the layout (see
    ``_degree_oriented``) and THIS plan's one |E| shuffle (the adjacency
    ``groupBy("src")``) is elided outright: broadcast joins and the
    filter preserve the layout's src hash-partitioning, so the aggregate
    runs exchange-free on the cached blocks.
    """
    deg = checkpointed(degrees(edges, sym=sym)) if deg is None else deg
    return _intersect_triangles(_degree_oriented(edges, deg, sym=sym))


def _intersect_triangles(oriented: DataFrame) -> DataFrame:
    """``(id, triangles)`` from an acyclic orientation holding one row
    per undirected edge: the adjacency-intersect plan of
    :func:`triangles_per_vertex_adjacency`, each triangle once."""
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    a_side = adj.select(F.col("src").alias("a"), F.col("nbrs").alias("na"))
    b_side = adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nb"))
    # No broadcast hint on the adjacency side (the unbounded-frame rule,
    # ADVICE r3/r4): |V| rows is unbounded at graph scale; the arrays come
    # out of a groupBy, so AQE has exact runtime sizes and picks broadcast
    # whenever it fits (plan-verified BroadcastHashJoin at sf0.1; medians
    # 4.8-6.0 s hinted vs un-hinted across sessions, both far under the
    # 9.1 s wedge join — REPORT.md r5).
    tri = (
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(a_side, "a")
        # b-vertices with no out-edges close no triangles: inner join
        # correctly drops those edges before the intersect.
        .join(b_side, "b")
        .select("a", "b", F.explode(F.array_intersect("na", "nb")).alias("c"))
    )
    per_corner = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return per_corner.groupBy("id").agg(F.count("*").alias("triangles"))


@dataclass(frozen=True)
class TriangleBasis:
    """The degree, orientation and triangle tables of one undirected
    graph, built once and read by every consumer: the walk's clustering
    input, the metric reports, and induced subgraphs via :meth:`restrict`
    (GraphX derives ``subgraph`` by masking the parent's indices the
    same way, rather than rebuilding them)."""

    deg: DataFrame       # (id, degree)
    oriented: DataFrame  # (src, dst): each edge once, lower (degree, id) first
    tri: DataFrame       # (id, triangles); triangle-free vertices absent

    def restrict(self, vertices: DataFrame) -> TriangleBasis:
        """The basis of the subgraph induced by ``vertices`` (column
        ``id``), with no second orientation or degree pass over the
        parent: a triangle lies in the induced subgraph iff its three
        corners are in ``vertices``, and the parent's (degree, id) order
        restricted to them is still a total order, so the restricted
        orientation enumerates each of the subgraph's triangles exactly
        once. A vertex of ``vertices`` with no neighbour inside it has
        no edge and so no row — the vertex set of the induced edge list.
        Only the orientation is materialized; ``deg`` and ``tri`` are
        lazy over it."""
        oriented = checkpointed(induced_subgraph(self.oriented, vertices))
        deg = (
            oriented.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("degree"))
        )
        return TriangleBasis(deg, oriented, _intersect_triangles(oriented))


def triangle_basis(sym: DataFrame, deg: DataFrame | None = None) -> TriangleBasis:
    """Materialized degree, degree-ordered orientation and per-vertex
    triangle tables of the graph whose DEDUPED symmetric closure is
    ``sym`` (one row per arc, no self-loops — the ``degrees(sym=)``
    contract), in one pass: the degree aggregate feeds the orientation
    (a filter over ``sym``, see ``_degree_oriented``), the orientation
    feeds the adjacency-intersect triangle plan. ``deg`` reuses a degree
    table the caller already holds materialized."""
    deg = checkpointed(degrees(sym, sym=sym)) if deg is None else deg
    oriented = checkpointed(_degree_oriented(sym, deg, sym=sym))
    return TriangleBasis(deg, oriented, checkpointed(_intersect_triangles(oriented)))


def local_clustering(
    edges: DataFrame,
    deg: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """``(id, cc)`` local clustering coefficient per vertex.

    cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2 (NetworkX
    convention). Left join so triangle-free vertices get cc=0.
    ``deg``/``tri`` accept pre-computed (cached) frames so callers that
    need several triangle-derived metrics pay for the triangle join once.
    """
    deg = deg if deg is not None else degrees(edges)
    tri = tri if tri is not None else triangles_per_vertex(edges)
    joined = deg.join(tri, "id", "left").fillna({"triangles": 0})
    return joined.select(
        "id",
        F.when(
            F.col("degree") < 2, F.lit(0.0)
        )
        .otherwise(
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("cc"),
    )


def average_clustering(
    edges: DataFrame,
    deg: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """1-row ``(avg_cc)`` — ``nx.average_clustering`` equivalent
    (``/root/reference/main.py:139, 211``; ground truth 0.6055 on
    ego-Facebook, BASELINE.md Table 1)."""
    return local_clustering(edges, deg, tri).agg(
        F.round(F.avg("cc"), 4).alias("avg_cc")
    )


def transitivity(
    edges: DataFrame,
    deg: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """1-row ``(transitivity)`` — global clustering coefficient:
    3·Σtri / Σ wedges, wedges(v) = deg(v)·(deg(v)−1)/2
    (``nx.transitivity``, ``/root/reference/main.py:158-159, 221-222``).
    """
    deg = deg if deg is not None else degrees(edges)
    wedges = deg.agg(
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2.0).alias("wedges")
    )
    tri = tri if tri is not None else triangles_per_vertex(edges)
    tris = tri.agg(
        (F.coalesce(F.sum("triangles"), F.lit(0)) / 3).alias("n_tri")
    )  # Σ per-vertex counts each triangle 3× → /3 = total triangles
    return wedges.crossJoin(tris).select(
        F.round(
            F.when(F.col("wedges") > 0, 3.0 * F.col("n_tri") / F.col("wedges"))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("transitivity")
    )


def top_k_by_degree(edges: DataFrame, k: int = 10) -> DataFrame:
    """Top-k vertices by degree with deterministic ties (degree desc, id asc).

    Global top-k: Spark's ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    — per-partition heaps then a driver merge of k·P rows, no full sort.
    """
    return degrees(edges).orderBy(F.col("degree").desc(), F.col("id").asc()).limit(k)


def in_out_degrees(edges: DataFrame) -> DataFrame:
    """``(id, out_degree, in_degree)`` — both directions in one aggregate
    (a tagged union instead of a full outer join: one shuffle, no join)."""
    tagged = edges.select(F.col("src").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i")).unionAll(
        edges.select(F.col("dst").alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    return tagged.groupBy("id").agg(
        F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """1-row ``(assortativity)`` — Pearson correlation of endpoint degrees
    over the symmetrized edge list (``nx.degree_assortativity_coefficient``
    on an undirected graph). Two broadcast-able degree joins + one corr
    aggregate; corr is scale-invariant so sample-vs-population variance
    cancels and any engine's ``corr`` matches."""
    s = symmetrize(edges, dedup=True)
    deg = degrees(edges)
    ds = deg.select(F.col("id").alias("src"), F.col("degree").alias("dsrc"))
    dd = deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddst"))
    return (
        s.join(ds, "src")
        .join(dd, "dst")
        .agg(F.round(F.corr("dsrc", "ddst"), 4).alias("assortativity"))
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """1-row ``(modularity)`` — Newman modularity of a vertex partition:

        Q = Σ_c [ e_c/m − (deg_c / 2m)² ]

    with m = #undirected edges, e_c = intra-community edges, deg_c = total
    degree of community c (Newman & Girvan 2004; = ``nx.community.
    modularity``). The natural grader for the reference's LPA pipeline
    (``/root/reference/main.py:161-162`` detects communities but never
    scores them).

    Plan: label both endpoints (two joins against the |V| label table —
    broadcast-able at ≤4M communities-worth of vertices, AQE decides),
    one filtered aggregate for e_c, one degree aggregate for deg_c, then
    a per-label combine and a final 1-row sum. The scalars m and 2m ride
    a broadcast 1-row crossJoin — no driver collect, so the whole metric
    is a single lazy plan usable inside larger pipelines. Skew-safe: all
    aggregates are keyed by label with map-side partials.
    """
    e = edges.select("src", "dst")
    lab = labels.select("id", "label")
    ls = lab.select(F.col("id").alias("src"), F.col("label").alias("lsrc"))
    ld = lab.select(F.col("id").alias("dst"), F.col("label").alias("ldst"))
    both = e.join(ls, "src").join(ld, "dst")
    intra = (
        both.filter(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("label"))
        .agg(F.count("*").alias("e_c"))
    )
    deg_c = (
        symmetrize(edges, dedup=True)
        .join(ls, "src")
        .groupBy(F.col("lsrc").alias("label"))
        .agg(F.count("*").alias("deg_c"))
    )
    m_row = e.agg(F.count("*").cast("double").alias("m"))
    per_label = deg_c.join(intra, "label", "left").select(
        "label",
        F.coalesce("e_c", F.lit(0)).alias("e_c"),
        "deg_c",
    )
    return (
        per_label.crossJoin(F.broadcast(m_row))
        .select(
            (
                F.col("e_c") / F.col("m")
                - F.pow(F.col("deg_c") / (2.0 * F.col("m")), 2)
            ).alias("term")
        )
        .agg(F.round(F.sum("term"), 6).alias("modularity"))
    )


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """``(label, cut_edges, volume, conductance)`` — per-community
    conductance φ(c) = cut(c) / min(vol(c), vol(V∖c)): the standard
    community-quality / graph-partitioning metric (low φ = well-separated
    community). cut(c) counts undirected edges with exactly one endpoint
    in c; vol(c) = Σ degree over c.

    Plan: one symmetrized endpoint-label join; cut and volume fall out of
    the SAME labeled edge frame (each undirected cut edge appears once per
    direction, and the direction whose src is in c charges c — so the
    per-direction count IS cut(c); the unfiltered per-src count IS
    vol(c)), aggregated by label with map-side partials. Total volume
    rides a broadcast 1-row crossJoin. No driver collect, skew-safe.
    """
    sym = symmetrize(edges, dedup=True)
    lab = labels.select("id", "label")
    ls = lab.select(F.col("id").alias("src"), F.col("label").alias("lsrc"))
    ld = lab.select(F.col("id").alias("dst"), F.col("label").alias("ldst"))
    both = sym.join(ls, "src").join(ld, "dst")
    per = both.groupBy(F.col("lsrc").alias("label")).agg(
        F.sum((F.col("lsrc") != F.col("ldst")).cast("long")).alias("cut_edges"),
        F.count("*").alias("volume"),
    )
    tot = per.agg(F.sum("volume").cast("double").alias("vol_all"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "cut_edges",
            "volume",
            F.round(
                F.col("cut_edges")
                / F.least(
                    F.col("volume").cast("double"),
                    F.col("vol_all") - F.col("volume"),
                ),
                6,
            ).alias("conductance"),
        )
    )


def rich_club_coefficient(
    edges: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """``(k, n_nodes, n_edges, rich_club)`` — the rich-club coefficient
    φ(k) = 2·E_k / (N_k·(N_k−1)) (Zhou & Mondragón 2004; unnormalized, =
    ``nx.rich_club_coefficient(normalized=False)``'s formula): for each
    degree threshold k, how densely the vertices of degree > k connect
    among themselves. Contract: one row per DISTINCT degree value k
    present in the graph with N_k ≥ 2; N_k = vertices with degree > k,
    E_k = undirected edges with BOTH endpoint degrees > k.

    Plan: the threshold dimension is the distinct-degree table — O(max
    degree) rows, sublinear in the graph — so both the vertex-side and
    edge-side theta-joins (`degree > k`) are nested-loop joins against a
    tiny auto-broadcast dimension (the same shape as the gap-fill grid,
    the documented small-dim exception to the no-NLJ rule); everything
    else is keyed aggregation with map-side partials. Endpoint degrees
    reach the edges through two equi-joins (AQE broadcasts the |V|-row
    degree table while it fits)."""
    deg = deg if deg is not None else degrees(edges)
    ks = deg.select(F.col("degree").alias("k")).distinct()
    nk = (
        deg.join(ks, deg.degree > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_nodes"))
    )
    ds = deg.select(F.col("id").alias("src"), F.col("degree").alias("d_src"))
    dd = deg.select(F.col("id").alias("dst"), F.col("degree").alias("d_dst"))
    ek = (
        edges.select("src", "dst")
        .join(ds, "src")
        .join(dd, "dst")
        .withColumn("mind", F.least("d_src", "d_dst"))
        .join(ks, F.col("mind") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        nk.join(ek, "k", "left")
        .fillna({"n_edges": 0})
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.round(
                2.0 * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                6,
            ).alias("rich_club"),
        )
    )


def average_neighbor_degree(
    edges: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """``(id, avg_nbr_degree)`` — mean degree of each vertex's
    neighbors (NetworkX ``average_neighbor_degree``, undirected). One
    symmetrize + one degree equi-join + one keyed mean; the per-vertex
    value is an exact integer ratio, rounded to 6 dp."""
    deg = deg if deg is not None else degrees(edges)
    sym = symmetrize(edges, dedup=True)
    nbr_deg = deg.select(
        F.col("id").alias("dst"), F.col("degree").alias("d_nbr")
    )
    return (
        sym.join(nbr_deg, "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.round(F.avg("d_nbr"), 6).alias("avg_nbr_degree"))
    )


def knn_by_degree(
    edges: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """``(k, n_vertices, sum_nbr_deg, knn, knn_within_tol)`` — the
    degree-correlation function k_nn(k) (Pastor-Satorras, Vázquez &
    Vespignani 2001): the mean of per-vertex average-neighbor-degree
    over the vertices of each degree class k. The scalar curve behind
    assortativity — rising knn(k) = assortative mixing, falling = hubs
    attach to leaves (``degree_assortativity`` is its one-number
    summary).

    Exactness (VERDICT r12 What's wrong #1 — the ``ROUND(AVG(double))``
    hash of the first version broke at an sf0.01 rounding boundary
    because Spark and DuckDB sum doubles in different orders): every
    vertex in class k has degree EXACTLY k, so
    ``knn(k) = Σ_v S_v / (n_k · k)`` with ``S_v`` the integer sum of v's
    neighbor degrees — a ratio of exact integers. The frame therefore
    carries the integer numerator ``sum_nbr_deg`` (with ``k`` and
    ``n_vertices`` it fully determines the curve, hash-exact in any
    engine), the fp convenience column ``knn`` (round 6 dp), and the
    per-engine agreement boolean ``knn_within_tol`` asserting this
    engine's own fp mean of ``S_v/k`` lands within 1e-9 relative of the
    exact rational — the r10 tolerance-twin protocol. Plan: one
    symmetrize + degree equi-join + TWO keyed integer aggregates; the
    output is O(max degree) rows."""
    deg = deg if deg is not None else degrees(edges)
    sym = symmetrize(edges, dedup=True)
    nbr_deg = deg.select(
        F.col("id").alias("dst"), F.col("degree").alias("d_nbr")
    )
    per_vertex = (
        sym.join(nbr_deg, "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("d_nbr").cast("long").alias("s_v"))
    )
    curve = (
        per_vertex.join(deg, "id")
        .groupBy(F.col("degree").alias("k"))
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum("s_v").cast("long").alias("sum_nbr_deg"),
            F.avg(F.col("s_v") / F.col("degree")).alias("knn_fp"),
        )
    )
    exact = F.col("sum_nbr_deg") / (F.col("n_vertices") * F.col("k"))
    return curve.select(
        "k",
        "n_vertices",
        "sum_nbr_deg",
        F.round(F.col("knn_fp"), 6).alias("knn"),
        (
            F.abs(F.col("knn_fp") - exact)
            <= F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(exact))
        ).alias("knn_within_tol"),
    )


def attribute_assortativity(
    edges: DataFrame, attrs: DataFrame, symmetric: bool = False
) -> DataFrame:
    """``(n_edges, trace, sum_ab, assortativity)`` — Newman's
    categorical (discrete) assortativity coefficient (Newman 2003,
    "Mixing patterns in networks"): over the symmetric edge closure with
    endpoint attributes joined on, ``e_ij`` = fraction of directed
    edges from category i to j, ``r = (Σe_ii − Σa_i b_i)/(1 − Σa_i b_i)``
    with a/b the row/column margins — +1 = perfect homophily, 0 =
    random mixing, negative = disassortative. ``attrs`` is
    ``(id, attr)``; edges whose endpoint lacks an attribute drop out
    (inner joins — the NetworkX convention).

    Shape: two attribute joins onto the edge list (the attribute table
    is category-keyed small → AQE broadcasts), one global 1-row
    aggregate, two |categories|-sized margin aggregates and their
    product sum — nothing bigger than the edge scan itself. The
    all-one-category graph has an undefined coefficient (0/0): emitted
    as NULL, matching NetworkX's nan. ``symmetric=True`` skips the
    closure when the caller already holds one (e.g. the persisted
    shared layout) — no re-shuffle of an already-symmetric frame."""
    sym = edges if symmetric else symmetrize(edges, dedup=True)
    lab = sym.join(
        attrs.select(F.col("id").alias("src"), F.col("attr").alias("ba")),
        "src",
    ).join(
        attrs.select(F.col("id").alias("dst"), F.col("attr").alias("bb")),
        "dst",
    )
    lab = checkpointed(lab.select("ba", "bb"))
    tot = lab.agg(
        F.count("*").cast("long").alias("m"),
        F.sum((F.col("ba") == F.col("bb")).cast("long")).alias("tr_cnt"),
    )
    a = lab.groupBy("ba").agg(F.count("*").cast("long").alias("ca"))
    b = lab.groupBy("bb").agg(F.count("*").cast("long").alias("cb"))
    ab = (
        a.join(b, a.ba == b.bb)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("ca") / F.col("m")) * (F.col("cb") / F.col("m"))).alias(
                "sum_ab"
            )
        )
    )
    return (
        tot.crossJoin(F.broadcast(ab))
        .select(
            F.col("m").alias("n_edges"),
            F.round(F.col("tr_cnt") / F.col("m"), 6).alias("trace"),
            F.round("sum_ab", 6).alias("sum_ab"),
            F.round(
                F.when(
                    F.col("sum_ab") != 1.0,
                    (F.col("tr_cnt") / F.col("m") - F.col("sum_ab"))
                    / (F.lit(1.0) - F.col("sum_ab")),
                ),
                6,
            ).alias("assortativity"),
        )
    )
