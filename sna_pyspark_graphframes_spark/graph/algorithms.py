"""Iterative graph algorithms as pure DataFrame loops.

The reference delegates all of these either to GraphFrames/GraphX Pregel
(label propagation, ``/root/reference/main.py:161``) or to driver-side
NetworkX on a collect()ed graph (betweenness/closeness/diameter,
``main.py:147-155``). Here every algorithm is an iterative DataFrame loop —
join + aggregate per superstep, ``plans.checkpointed`` every round to
truncate lineage — so the only ceiling is cluster memory, not driver memory
(SURVEY.md §3.2 rebuild note, §7.2 step 4).

Inputs: ``edges`` is an undirected edge set in canonical form (src < dst,
deduped, no self-loops) unless stated otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sna_pyspark_graphframes_spark.graph.build import symmetrize
from sna_pyspark_graphframes_spark.plans.iterate import checkpointed


def _sym(edges: DataFrame) -> DataFrame:
    return symmetrize(edges, dedup=True)


# Joining per-round vertex-state frames against |E| edges per superstep as
# a sort-merge join re-sorts the edge table EVERY round (measured 3.3x
# whole-algorithm cost on LPA at sf0.1). Checkpointed frames carry no
# catalog stats, so neither Catalyst nor AQE picks the broadcast on its
# own — the loop must say so, via the shared size gate (plans/hints.py;
# moved there in r7 so metrics/linkpred reuse the same rule).
from sna_pyspark_graphframes_spark.plans.hints import (  # noqa: E402
    STATE_BROADCAST_MAX_ROWS,
    state_hinted as _state_hinted,
)

# Peel-loop observability (SCALE.md round-count audit): each k_core/k_truss
# call records its executed round count here; the decomposition drivers
# (core_numbers/truss_numbers) accumulate outer and inner totals. Driver-side
# plain ints — no effect on plans.
LAST_STATS: dict[str, int] = {}


def _resolve_init_ranks(init_ranks: DataFrame) -> tuple[str, str]:
    """Resolve a pagerank/PPR continuation frame to its ``(id, rank)``
    column names: by NAME when recognizable (``id``; ``pagerank`` /
    ``rank`` / ``pr`` — pagerank() output plugs in directly), else by
    position, with validation instead of silent misreads (ADVICE r11 —
    a frame with an extra leading column used to be misinterpreted).
    Raises ``ValueError`` on < 2 columns or a non-numeric rank column."""
    from pyspark.sql.types import NumericType

    icols = init_ranks.columns
    if len(icols) < 2:
        raise ValueError(
            f"init_ranks needs >= 2 columns (id, rank); got {icols}"
        )
    iid = "id" if "id" in icols else icols[0]
    named = [
        c for c in icols
        if c != iid and c.lower() in ("pagerank", "rank", "pr")
    ]
    ipr = named[0] if named else next(c for c in icols if c != iid)
    if not isinstance(init_ranks.schema[ipr].dataType, NumericType):
        raise ValueError(
            f"init_ranks rank column {ipr!r} must be numeric; got "
            f"{init_ranks.schema[ipr].dataType.simpleString()}"
        )
    return iid, ipr


def _state_cadence(n_rows: int, refs_per_step: int = 1) -> int:
    """Checkpoint cadence for a superstep loop whose state is fed through
    ``_state_hinted``. When the state is broadcast-sized, each round's
    broadcast COLLECTS the state plan — an unmaterialized chain of k
    supersteps is re-executed on every later broadcast (and grows
    ``refs_per_step^k`` plan nodes when the loop references the state more
    than once, e.g. LPA's join + coalesce self-join). Measured at sf0.1:
    LPA k=3 ran 2-4x slower than k=1 once the broadcast hint landed. So:
    broadcast state → checkpoint every round; shuffle-hash state (no
    driver collect, exchange reuse applies) → every 3rd round."""
    if n_rows <= STATE_BROADCAST_MAX_ROWS or refs_per_step > 1:
        return 1
    return 3


# Layout partition sizing (r15, guide §2.2 "fewer, larger partitions" /
# §2.3 scale-adaptive partitioning). The persisted loop layouts used to
# take the session default (`spark.sql.shuffle.partitions` = the core
# count), and — because a persisted plan's partitioning is pinned at build
# (AQE does not re-coalesce cached plans;
# `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
# false) — EVERY superstep of every loop then scheduled core-count tasks
# over a few MB of edges. That is exactly the r14 anti-scaling signature
# (pagerank_top20 0.67, lpa 0.53 8c/32c time ratio: 32 cores slower than
# 8 on the same data). The count is now derived from the measured edge
# count at build time:
#   * work floor: at least ~250k edge rows (~4 MB of (long,long) pairs)
#     per task — below that, task scheduling dominates the task;
#   * scale ceiling: never more than ~128 MB per partition (guide §2.2 /
#     §6 partition-size band), which is what grows the count with data;
#   * core clamp applies only to the work floor (use idle cores only
#     when every task still clears the floor), so the count is
#     DATA-sized, not core-sized: sf0.1 co-purchase (2.39M arcs) → 10
#     partitions at 32 AND at 8 cores; 100 TB → the bytes term.
# Interleaved A/B at sf0.1, 32 cores (r15): pagerank 15-round loop on the
# co-purchase layout 5.2-8.7 s @32 parts → 2.8-3.4 s @4 / 3.8-4.2 s @8;
# LPA@5 5.4 s @32 → 3.2-3.6 s @8. The one-time count() pass at build is
# amortized over every superstep of every consumer of the layout.
EDGE_ROWS_PER_TASK = 250_000
EDGE_PART_MAX_BYTES = 128 << 20
_EDGE_ROW_BYTES = 16  # two packed longs; payload columns only add slack


def _adaptive_edge_parts(n_rows: int, spark) -> int:
    by_bytes = -(-(n_rows * _EDGE_ROW_BYTES) // EDGE_PART_MAX_BYTES)
    by_work = min(
        spark.sparkContext.defaultParallelism,
        -(-n_rows // EDGE_ROWS_PER_TASK),
    )
    return max(1, by_bytes, by_work)


def _edges_partitioned(
    e: DataFrame, key: str, num_partitions: int | None = None, dedup: bool = True
) -> DataFrame:
    """Iterative-loop edge layout (r7): dedup + hash-partition on ``key``
    + persist in the cache layer. One upfront shuffle — dropDuplicates'
    required clustering on (src,dst) is satisfied by the ``key``
    partitioning, so the dedup adds no second exchange. Each superstep's
    broadcast state join then preserves the streamed side's partitioning,
    and the per-round aggregate keyed on ``key`` (through an alias) needs
    NO exchange — zero per-round exchanges of edge-derived rows. Pick
    ``key`` = the aggregate's key (LPA/CC group by src; PageRank groups
    contributions by dst). Measured on LPA at sf0.1: 6.37 s → 4.70 s
    median vs the localCheckpoint layout (REPORT.md r7). Callers must
    ``.unpersist()`` once the loop's final state is materialized.

    ``num_partitions``: callers that already know the graph's size pass
    an explicit count; by default (r15) the count is DERIVED from the
    measured edge count (``_adaptive_edge_parts`` — data-sized, not
    core-sized; see the sizing note above). The derivation pays one
    ``count()`` of ``e`` before the layout shuffle — once per layout
    build, amortized over every superstep of every consumer; callers on
    a 100 TB graph that know |E| should pass ``num_partitions``
    explicitly and skip that pass.

    ``dedup=False`` keeps parallel edges (``pagerank_weighted``: they
    carry distinct weights)."""
    from pyspark import StorageLevel

    if num_partitions is None:
        num_partitions = _adaptive_edge_parts(e.count(), e.sparkSession)
    e = e.repartition(num_partitions, key)
    if dedup:
        e = e.dropDuplicates(["src", "dst"])
    return e.persist(StorageLevel.MEMORY_AND_DISK)


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """``(id, component)`` with component = min vertex id in the component.

    Min-label propagation: each round every vertex takes
    ``min(own, min(neighbor labels))``; converges in O(diameter) rounds with
    an explicit changed-row convergence check (= GraphFrames
    ``connectedComponents`` semantics, SURVEY.md §2.2 M9).

    Scale note: O(diameter) shuffles of |E|. For 100 TB graphs with large
    diameter, the two-phase large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce", SoCC'14) halves round count; the
    simple propagation is kept here because social graphs have small
    diameter and the code stays one join + one aggregate per round.

    ``sym_layout`` (r8, VERDICT r7 Next #7): a caller-held SHARED edge
    layout — ``_edges_partitioned(symmetrize(edges, dedup=False),
    "src")`` — reused across the whole graph-query family (CC / LPA /
    PageRank / degrees all consume the same persisted frame; a
    deployment holds one graph layout, not one per query). When passed,
    this function neither rebuilds nor unpersists it — the caller owns
    its lifetime."""
    # src-partitioned persistent layout: the per-round min aggregate
    # groups by src, so its exchange is elided every round (see
    # _edges_partitioned). A/B'd at sf0.1 (REPORT.md r7): a WASH locally
    # (median 7.5 vs 7.4 s — CC's 4-round loop amortizes the layout less
    # than LPA/PageRank's longer ones); kept anyway for the same reason as
    # the r5 frontier form: one fewer per-round exchange of edge-derived
    # rows is what matters at 1000-executor scale, and it costs nothing
    # here.
    owns_layout = sym_layout is None
    sym = (
        _edges_partitioned(symmetrize(edges, dedup=False), "src")
        if owns_layout
        else sym_layout
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    labels = checkpointed(labels, lazy=True)
    n_vertices = labels.count()  # the materializing action (r9 setup fold)
    # Frontier propagation (round 5): min-label merge is DELTA-propagating
    # — a vertex's label only needs re-proposing after it CHANGES (its old,
    # higher values were already absorbed by every neighbor, and min is
    # idempotent), so each round joins the edges against only last round's
    # changed vertices instead of the full |V| label table. Round 1 seeds
    # the frontier with everyone (every initial label gets proposed once,
    # establishing the invariant); afterwards per-round work tracks
    # frontier-adjacent edges, which shrinks geometrically on small-world
    # graphs. The fixed point — and the convergence test — are identical
    # to the dense superstep. (Contrast LPA, whose mode() needs the FULL
    # neighbor histogram: there the frontier only selects which vertices
    # re-aggregate, here it also shrinks the join's build side.)
    frontier = labels
    n_frontier = n_vertices
    LAST_STATS["cc_rounds"] = 0
    for _ in range(max_iter):
        LAST_STATS["cc_rounds"] += 1
        nbr_min = (
            sym.join(
                _state_hinted(
                    frontier.select(
                        F.col("id").alias("dst"), F.col("component")
                    ),
                    n_frontier,
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        new_comp = F.least(
            F.col("component"), F.coalesce("nbr_comp", F.col("component"))
        )
        # Convergence folded into the superstep (VERDICT r3 #3): labels are
        # monotone non-increasing, so "changed" is exactly new < old — carry
        # it as a 0/1 column through the SAME join and sum it off the
        # checkpointed result; the same column IS the next frontier.
        # lazy: the convergence read below is the materializing action
        # (the HITS norm fold) — one job per superstep, not two
        new_labels = checkpointed(
            labels.join(nbr_min, "id", "left").select(
                "id",
                new_comp.alias("component"),
                (new_comp < F.col("component")).cast("int").alias("chg"),
            ),
            lazy=True,
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        frontier = new_labels.filter(F.col("chg") == 1).select("id", "component")
        n_frontier = int(changed or 0)
        labels = new_labels.drop("chg")
        if not changed:
            break
    if owns_layout:  # shared layouts outlive the call (caller-owned)
        sym.unpersist(blocking=False)  # labels is checkpointed; cache is dead
    return labels.select("id", "component")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every strictly-larger neighbor of u re-points to the min
    of u's closed neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mv"))
    joined = sym.join(m, "u").withColumn("m", F.least("mv", "u"))
    return (
        joined.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: every smaller-or-equal neighbor of u (parent pointers)
    re-points to the min of that closed neighborhood."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = o.groupBy("u").agg(F.min("v").alias("mv"))
    joined = o.join(m, "u")
    re_pointed = joined.filter(F.col("v") != F.col("mv")).select(
        F.col("v").alias("u"), F.col("mv").alias("v")
    )
    parents = m.select("u", F.col("mv").alias("v"))
    return (
        re_pointed.union(parents).filter(F.col("u") != F.col("v")).distinct()
    )


def connected_components_twophase(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """``(id, component)`` via the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the documented scale path from SCALE.md: converges
    in O(log²|V|) rounds INDEPENDENT of graph diameter, so a 100 TB
    high-diameter graph (road networks, chains) finishes where min-label
    propagation (O(diameter) rounds) would not.

    Same output contract as ``connected_components``: component = min
    vertex id of the component (the tests assert pairwise equality).
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = checkpointed(e)
    vertices = e.select(F.col("u").alias("id")).union(
        e.select(F.col("v").alias("id"))
    ).distinct()
    vertices = checkpointed(vertices)
    for _ in range(max_iter):
        e2 = checkpointed(_small_star(_large_star(e)))
        # Converged when the edge SET is a fixed point. Both frames are
        # distinct, so the symmetric difference is exactly the rows that
        # appear in only one of the two — ONE aggregate action over the
        # two checkpointed frames, vs the previous two exceptAll counts
        # (2 extra shuffles + 1 extra action per round; the per-round
        # action count is what dominates this O(log²) loop at fixture
        # scale, same finding as the CC/SSSP chg-column folds).
        delta = (
            e.union(e2)
            .groupBy("u", "v")
            .count()
            .filter(F.col("count") == 1)
            .limit(1)
            .count()
        )
        e = e2
        if delta == 0:
            break
    # final e maps child -> root; roots appear only on the right (or are
    # isolated). component(id) = pointer if present else id itself.
    pointers = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        vertices.join(pointers, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


# ---------------------------------------------------------------------------
# Label propagation (community detection)
# ---------------------------------------------------------------------------

def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    assume_symmetric: bool = False,
    edge_layout: str = "partitioned",
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """Synchronous LPA: ``(id, label)`` after ``max_iter`` supersteps.

    Reference: ``graph.labelPropagation(maxIter)`` (GraphX Pregel under
    GraphFrames, ``/root/reference/main.py:161``). Semantics here:
      * labels initialized to vertex id;
      * each superstep every vertex adopts the most frequent label among its
        neighbors; ties broken by MIN label id (deterministic — GraphX's
        Scala-map tie-break is placement-dependent; we pin it, SURVEY.md
        §3.2 rebuild note);
      * isolated vertices keep their label.

    ``assume_symmetric``: the input already contains both directions of
    every edge (deduped) — skips the symmetrize+distinct pass (an |E|
    explode + shuffle) that callers like the sampler have already paid.

    Per superstep: one join (labels onto edge dst) + ONE aggregate —
    ``mode(label, deterministic=True)`` is most-frequent-with-min-tie-break
    in a single typed aggregate (map-side partials buffer per-group
    histograms), replacing a two-stage count + ``max_by(struct)`` argmax
    (one fewer |E|-sized shuffle per superstep).

    """
    persisted_sym = None
    if sym_layout is not None:
        # shared caller-owned layout (same contract as
        # connected_components.sym_layout): already symmetrized,
        # src-partitioned, persisted — reuse, never unpersist
        sym = sym_layout
    elif assume_symmetric:
        sym = edges
    elif edge_layout == "partitioned":
        # Default layout (VERDICT r6 Next #4, adopted r7): src-partitioned
        # persistent edges (see _edges_partitioned) — the mode aggregate's
        # ClusteredDistribution(id←src) is satisfied through the broadcast
        # label join, so NO per-round exchange of edge-derived rows
        # (plan-verified: partial_mode feeds mode with no Exchange
        # between). Measured at sf0.1, solo, median of 5 alternating reps:
        # 6.37 s (checkpoint layout) → 4.70 s, non-overlapping rep ranges
        # (REPORT.md r7). On a cluster the same layout keeps each round's
        # join shuffling only the |V| state frame.
        persisted_sym = _edges_partitioned(
            symmetrize(edges, dedup=False), "src"
        )
        sym = persisted_sym
    else:
        sym = checkpointed(_sym(edges))
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    labels = checkpointed(labels, lazy=True)
    n_vertices = labels.count()  # the materializing action (r9 setup fold)
    LAST_STATS["lpa_rounds"] = 0
    LAST_STATS["lpa_frontier_sizes"] = []
    # Frontier-only messaging (VERDICT r4 Next #4): in synchronous LPA a
    # vertex's round-k+1 decision re-reads its FULL neighbor histogram,
    # but if NO neighbor changed label in round k the histogram — and
    # therefore the mode — is identical to round k's, so the vertex
    # provably keeps its label. Hence only neighbors-of-changed vertices
    # ("candidates") need the join+mode work; everyone else is carried
    # over label-unchanged. Exactness: candidates re-aggregate over ALL
    # their incident edges against ALL current labels (not just frontier
    # edges), so the computed mode equals the dense superstep's. The
    # frontier itself falls out of the same chg column that drives the
    # convergence exit — one cheap scan of the checkpointed |V| frame per
    # round, no extra jobs. Dense rounds skip the two candidate
    # semi-joins: in a small-world graph the neighbor set of even a
    # modest frontier covers most of the graph, so the prune only pays
    # once the frontier is genuinely sparse — measured at sf0.1
    # (REPORT.md r5): frontier sizes [20000, 15005, 14588, 13730, 751]
    # across 5 rounds, and a frontier/2 gate was a wash (6.9 s vs 6.4 s
    # dense, within host noise) because rounds 2-4 pruned almost nothing
    # while paying the semi-joins. Gate at |frontier|·8 < |V| so only
    # late, localized rounds (like that 751) take the frontier path.
    frontier = None
    n_frontier = n_vertices
    for it in range(max_iter):
        LAST_STATS["lpa_rounds"] += 1
        if frontier is None or n_frontier * 8 > n_vertices:
            cand_edges = sym
        else:
            cands = (
                sym.join(
                    _state_hinted(
                        frontier.withColumnRenamed("id", "dst"), n_frontier
                    ),
                    "dst",
                )
                .select("src")
                .distinct()
            )
            cand_edges = sym.join(_state_hinted(cands, n_frontier * 64), "src")
        nbr_labels = cand_edges.join(
            _state_hinted(labels.withColumnRenamed("id", "dst"), n_vertices),
            "dst",
        ).select(F.col("src").alias("id"), "label")
        best = nbr_labels.groupBy("id").agg(
            F.mode("label", True).alias("new_label")
        )
        new_labels = checkpointed(
            labels.join(best, "id", "left").select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label"))
                .cast("int")
                .alias("chg"),
            ),
            lazy=True,  # the frontier-size read materializes it (one job)
        )
        n_frontier = new_labels.agg(F.sum("chg")).first()[0] or 0
        LAST_STATS["lpa_frontier_sizes"].append(int(n_frontier))
        frontier = new_labels.filter(F.col("chg") == 1).select("id")
        labels = new_labels.drop("chg")
        # Fixed point: the remaining supersteps are identities, so exiting
        # early is semantics-preserving for any maxIter (the GraphFrames
        # contract this mirrors runs exactly maxIter rounds; at a fixed
        # point those rounds are no-ops).
        if n_frontier == 0:
            break
    if persisted_sym is not None:
        # labels is checkpointed (materialized) — the edge cache is dead
        persisted_sym.unpersist(blocking=False)
    return labels


def community_count(labels: DataFrame) -> DataFrame:
    """1-row ``(n_communities)`` (``/root/reference/main.py:162``)."""
    return labels.agg(F.countDistinct("label").alias("n_communities"))


def dense_rekey(labels: DataFrame) -> DataFrame:
    """Re-key arbitrary labels to dense ``0..k-1`` (label-order dense
    ranks) — distributed.

    Replaces the reference's driver-built dict + row-at-a-time Python UDF
    (``/root/reference/main.py:44-48, 164-173``; SURVEY.md §2.1 #12). The
    ``row_number`` window runs over the *k distinct labels only* — never
    over the full vertex table — but k itself is unbounded in general
    (LPA on a web-scale graph can emit 10⁸ labels — VERDICT r9 What's
    wrong #2), so the rank is SIZE-GATED like every other growing frame:

    * within the gate (k ≤ ``hints.STATE_BROADCAST_MAX_ROWS``): one
      global ``row_number`` window (single task over k rows — fine for
      community counts) + broadcast join back.
    * past it: a TWO-PHASE rank with no single-task stage — range-
      repartition the distinct labels (partition id becomes the major
      sort key), rank within each partition in PARALLEL windows keyed by
      the materialized partition id, and add per-partition offsets (a
      running sum over ≤ #partitions rows — bounded by cluster
      parallelism, never by k — broadcast back). The back-join to the
      full label table carries no hint; AQE picks the strategy.

    The gate input is Catalyst's plan-statistics estimate of the INPUT
    (zero jobs; |labels| ≥ k, so an overestimate only flips toward the
    always-correct scale path); unknown stats (checkpointed LPA output)
    fall back to one exact ``count()`` of the distinct set — the
    ``_gated_codebook_rows`` recipe. Output values are identical on both
    paths (global label order is preserved by range partitioning),
    pinned by ``tests/test_plans.py::test_dense_rekey_two_phase``."""
    from pyspark.sql import Window

    from sna_pyspark_graphframes_spark.plans import hints

    distinct_labels = labels.select("label").distinct()
    est = hints.plan_stat_bytes(labels)
    if est is not None and est < hints.STATS_UNKNOWN_BYTES:
        # (id, label) rows are ~16 B; est/16 bounds k from above
        k_bound = est // 16
    else:
        k_bound = distinct_labels.count()
    if k_bound <= hints.STATE_BROADCAST_MAX_ROWS:
        ranked = distinct_labels.withColumn(
            "new_label",
            F.row_number().over(Window.orderBy("label")) - 1,
        )
        joined = labels.join(F.broadcast(ranked), "label")
    else:
        n_parts = labels.sparkSession.sparkContext.defaultParallelism
        # EAGER materialization (ADVICE r10 medium): the range exchange
        # samples boundaries per RDD instantiation and
        # spark_partition_id is nondeterministic, so the two consumers
        # below (per-partition ranks AND the sizes->offsets leg) must
        # read ONE physical instantiation — independent re-execution
        # could add offsets from one partitioning to ranks from
        # another, duplicating/skipping labels. Lazy checkpointing is
        # NOT safe here: a lazy frame consumed on multiple legs of its
        # first job recomputes per leg (the r8 truss caveat).
        local = checkpointed(
            distinct_labels.repartitionByRange(n_parts, "label")
            .select("label", F.spark_partition_id().alias("_pid"))
            .withColumn(
                "_lrank",
                F.row_number().over(
                    Window.partitionBy("_pid").orderBy("label")
                )
                - 1,
            )
        )
        sizes = local.groupBy("_pid").agg(
            (F.max("_lrank") + 1).alias("_n")
        )
        offsets = sizes.select(
            "_pid",
            (
                F.coalesce(
                    F.sum("_n").over(
                        Window.orderBy("_pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                )
            ).alias("_off"),
        )
        ranked = local.join(F.broadcast(offsets), "_pid").select(
            "label", (F.col("_off") + F.col("_lrank")).alias("new_label")
        )
        joined = labels.join(ranked, "label")
    return joined.select("id", F.col("new_label").alias("label"))


def strongly_connected_components(
    edges: DataFrame, max_iter: int = 30, max_hops: int = 1000
) -> DataFrame:
    """``(id, component)`` SCCs of a DIRECTED graph, component = min vertex
    id of the SCC — the forward-backward coloring algorithm as DataFrame
    loops (= GraphFrames ``stronglyConnectedComponents``; completes the
    directed side of the component family):

    repeat on the not-yet-assigned subgraph:
      1. forward min-propagation to a fixed point: color(v) = min id that
         reaches v along edge direction;
      2. backward propagation WITHIN each color class from its pivot
         (the vertex whose id equals its color): every vertex that can
         reach its pivot inside the class is in the pivot's SCC;
      3. assign those, drop them, repeat.

    Each outer round settles ≥1 SCC per color class (expected O(log V)
    rounds on random graphs — Blelloch et al.); inner loops are the usual
    join+aggregate supersteps with checkpointing.

    ``max_iter`` caps OUTER rounds only. The inner propagation loops must
    reach their fixed point for correctness (a truncated forward pass can
    leave a color class without a pivot; a truncated backward pass would
    split an SCC), so they run to convergence under the generous
    ``max_hops`` safety bound — one superstep per hop, so the bound is the
    longest shortest-path inside any one color class, not graph size.
    """
    remaining = (
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    vertices = (
        remaining.select(F.col("src").alias("id"))
        .union(remaining.select(F.col("dst").alias("id")))
        .distinct()
    )
    vertices = checkpointed(vertices)
    remaining = checkpointed(remaining)
    assigned = None  # DataFrame (id, component)
    for _round in range(max_iter):
        if vertices.isEmpty():
            break
        # --- 1. forward min-propagation to fixed point -------------------
        colors = vertices.withColumn("color", F.col("id"))
        colors = checkpointed(colors)
        for _ in range(max_hops):
            prop = (
                remaining.join(
                    colors.select(F.col("id").alias("src"), "color"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("in_color"))
            )
            new_colors = (
                colors.join(prop, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("color"), F.coalesce("in_color", F.col("color"))
                    ).alias("color"),
                )
            )
            new_colors = checkpointed(new_colors)
            changed = (
                new_colors.alias("n")
                .join(colors.alias("o"), "id")
                .filter(F.col("n.color") != F.col("o.color"))
                .count()
            )
            colors = new_colors
            if changed == 0:
                break
        # --- 2. backward reach of each pivot within its color class ------
        # edges inside one color class, reversed
        ce = (
            remaining.join(colors.select(F.col("id").alias("src"), "color"), "src")
            .join(
                colors.select(
                    F.col("id").alias("dst"), F.col("color").alias("c2")
                ),
                "dst",
            )
            .filter(F.col("color") == F.col("c2"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"), "color")
        )
        ce = checkpointed(ce)
        reached = colors.filter(F.col("id") == F.col("color")).select(
            "id", "color"
        )  # pivots
        reached = checkpointed(reached)
        frontier = reached
        for _ in range(max_hops):
            nxt = (
                frontier.join(ce.withColumnRenamed("src", "id"), ["id", "color"])
                .select(F.col("dst").alias("id"), "color")
                .distinct()
                .join(reached, ["id", "color"], "left_anti")
            )
            nxt = checkpointed(nxt)
            if nxt.isEmpty():
                break
            reached = checkpointed(reached.unionByName(nxt))
            frontier = nxt
        scc = reached.select("id", F.col("color").alias("component"))
        assigned = scc if assigned is None else assigned.unionByName(scc)
        assigned = checkpointed(assigned)
        # --- 3. drop settled vertices ------------------------------------
        vertices = checkpointed(
            vertices.join(scc.select("id"), "id", "left_anti")
        )
        remaining = checkpointed(
            remaining.join(
                scc.select(F.col("id").alias("src")), "src", "left_anti"
            ).join(scc.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
    if assigned is None:
        return vertices.withColumn("component", F.col("id"))
    leftovers = vertices.withColumn("component", F.col("id"))
    return assigned.unionByName(leftovers)


# ---------------------------------------------------------------------------
# Weighted shortest paths
# ---------------------------------------------------------------------------

def weighted_sssp(
    edges: DataFrame, source: int, max_iter: int = 64
) -> DataFrame:
    """``(id, dist)`` — minimum path weight from ``source`` to every
    reachable vertex, over a DIRECTED weighted edge set ``(src, dst,
    weight)`` with non-negative weights (symmetrize-with-weight first for
    undirected). Distributed Bellman-Ford: each round relaxes every edge
    whose src is settled so far (join + min-aggregate), stopping at the
    first round that improves nothing — ≤ longest-shortest-path-hops
    rounds, each one keyed shuffle, checkpointed.

    The frontier IS the dist table (no separate visited set): min() over
    the union of old dists and new candidates is idempotent, so
    re-relaxation is wasted work but never wrong — the fixed point is the
    true distance (standard Bellman-Ford argument).
    """
    e = checkpointed(edges.select("src", "dst", "weight"))
    spark = edges.sparkSession
    dist = spark.createDataFrame([(int(source), 0.0)], "id long, dist double")
    dist = checkpointed(dist)
    frontier = dist
    n_frontier = 1
    for _ in range(max_iter):
        # Frontier Bellman-Ford (round 5): the (min, +) relaxation is
        # delta-propagating — an edge out of an UNCHANGED vertex proposes
        # the same value it already proposed, and min is idempotent, so
        # only edges out of last round's improved vertices are relaxed.
        # Round 1's frontier is the source row itself; afterwards the
        # relaxation cost tracks frontier-out-edges, not |settled|.
        # Convergence folded into the superstep (same chg-column pattern
        # as connected_components, ADVICE r4): distances are monotone
        # non-increasing, so "improved" = new < old OR vertex newly
        # reached — carried as a 0/1 column through the ONE merge join and
        # summed off the checkpointed result together with the row count;
        # the same column IS the next frontier.
        nbr = (
            e.join(
                _state_hinted(
                    frontier.withColumnRenamed("id", "src"), n_frontier
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("nbr_dist"))
        )
        new_val = F.least(
            F.coalesce("dist", "nbr_dist"), F.coalesce("nbr_dist", "dist")
        )
        new_dist = checkpointed(
            dist.join(nbr, "id", "full").select(
                "id",
                new_val.alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("nbr_dist") < F.col("dist"))
                ).cast("int").alias("chg"),
            ),
            lazy=True,  # convergence read = materializing action
        )
        changed = new_dist.agg(F.sum("chg")).first()[0]
        frontier = new_dist.filter(F.col("chg") == 1).select("id", "dist")
        n_frontier = int(changed or 0)
        dist = new_dist.drop("chg")
        if not changed:
            break
    return dist.select("id", F.round(F.col("dist"), 4).alias("dist"))


def widest_path(edges: DataFrame, source: int, max_iter: int = 64) -> DataFrame:
    """``(id, capacity)`` — the BOTTLENECK shortest path from ``source``:
    for each reachable vertex, the maximum over paths of the minimum edge
    weight along the path (max-min semiring — network capacity / maximum
    bandwidth routing; the (max, min) instance of the same relaxation
    :func:`weighted_sssp` runs over (min, +)).

    Same distributed Bellman-Ford shape: each round every edge from a
    reached vertex proposes ``min(cap(src), weight)`` and vertices take
    the max; capacities only grow and are bounded by the finite weight
    set, so the fixed point is exact. The source reports the largest
    weight reachable on any path (capped at its own best incident
    proposal rather than an artificial +inf, keeping the output within
    the data's weight domain — the source row is dropped to avoid
    convention ambiguity)."""
    e = checkpointed(edges.select("src", "dst", "weight"))
    spark = edges.sparkSession
    # the source's outgoing edges seed the frontier directly
    cap = checkpointed(
        e.filter(F.col("src") == source)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max("weight").alias("capacity"))
    )
    frontier = cap
    n_frontier = cap.count()
    for _ in range(max_iter):
        # Frontier relaxation (round 5, same argument as weighted_sssp):
        # the (max, min) semiring is delta-propagating — unchanged
        # vertices re-propose values max already absorbed — so only edges
        # out of last round's improved vertices are relaxed.
        # Convergence folded into the superstep (ADVICE r4: this loop had
        # the exact two-extra-jobs-per-round shape connected_components
        # retired for a measured 2.3x): capacities are monotone
        # non-decreasing, so "improved" = new > old OR vertex newly
        # reached — a 0/1 chg column through the one merge join; the same
        # column is the next frontier.
        nbr = (
            e.join(
                _state_hinted(
                    frontier.withColumnRenamed("id", "src"), n_frontier
                ),
                "src",
            )
            .filter(F.col("dst") != source)
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.max(
                    F.least(F.col("capacity"), F.col("weight"))
                ).alias("nbr_cap")
            )
        )
        new_val = F.greatest(
            F.coalesce("capacity", "nbr_cap"), F.coalesce("nbr_cap", "capacity")
        )
        new_cap = checkpointed(
            cap.join(nbr, "id", "full").select(
                "id",
                new_val.alias("capacity"),
                (
                    F.col("capacity").isNull()
                    | (F.col("nbr_cap") > F.col("capacity"))
                ).cast("int").alias("chg"),
            ),
            lazy=True,  # convergence read = materializing action
        )
        changed = new_cap.agg(F.sum("chg")).first()[0]
        frontier = new_cap.filter(F.col("chg") == 1).select("id", "capacity")
        n_frontier = int(changed or 0)
        cap = new_cap.drop("chg")
        if not changed:
            break
    return cap.select("id", F.round(F.col("capacity"), 4).alias("capacity"))


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------

def k_core(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """Edges of the k-core: the maximal subgraph where every vertex has
    degree ≥ k (undirected; canonical input). Iterative peeling — each
    round drops all vertices below k at once, so rounds ≤ the peeling
    depth, not |V|. Per round: one degree aggregate + two semi-joins,
    checkpointed."""
    e = checkpointed(edges.select("src", "dst"))
    LAST_STATS["k_core_rounds"] = 0
    for _ in range(max_iter):
        LAST_STATS["k_core_rounds"] += 1
        deg = (
            _sym(e)
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("id")
        n_before = deg.count()
        n_keep = keep.count()
        if n_keep == n_before:
            break
        e = checkpointed(
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        if n_keep == 0:
            break
    return e


def core_numbers(
    edges: DataFrame, max_k: int = 64, max_rounds: int = 100_000
) -> DataFrame:
    """``(id, core)`` — each vertex's core number (max k such that it is
    in the k-core; = ``nx.core_number``), by DEGENERACY-ORDER bucket
    peeling (the distributed form of Matula–Beck; cf. Montresor et al.,
    "Distributed k-core decomposition"): keep the live degree table,
    jump the peel level straight to the current minimum degree, and each
    wave removes EVERY vertex at or below the level at once (core =
    level), decrementing survivors through one edge-set shrink + one
    degree rebuild.

    This replaces the r4–r7 shape (outer k = 1..max_k, each running a
    FULL ``k_core`` fixpoint — 136 degree aggregates / 273 s on the
    dense sf0.01 co-purchase graph, VERDICT r7 Next #6): the level jump
    skips empty k's entirely, nothing is recomputed per k, and total
    work is one |E|-scan per peel WAVE (waves = the graph's peeling
    depth, ≤ what the old inner loops already paid for k=1 alone).
    Each wave is ONE driver action: the min-degree/size read doubles as
    the lazy checkpoints' materializing job (the HITS norm fold).
    Vertices whose degree hits 0 mid-peel stay in the degree table
    (left join + coalesce) so they peel at the CURRENT level, exactly
    as the sequential order would. Survivors past ``max_k`` emit
    clamped at ``max_k`` (the r3 every-vertex-gets-a-row contract).
    ``core_numbers_hindex`` remains the dense-graph scale path — the
    h-index fixed point converges in O(1)-ish rounds regardless of
    peeling depth; A/B at sf0.01 in REPORT.md r8."""
    e = checkpointed(_sym(edges.select("src", "dst")))
    deg = checkpointed(
        e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg")),
        lazy=True,
    )
    row = deg.agg(F.min("deg"), F.count("*")).first()
    result = None
    k = 0
    LAST_STATS["core_numbers_waves"] = 0
    while row[1]:
        k = max(k, row[0])
        if k >= max_k or LAST_STATS["core_numbers_waves"] >= max_rounds:
            # every survivor's core is >= the CURRENT level; emit that
            # level (on the max_k trigger min(k, max_k) == max_k — the r3
            # clamp contract; on the max_rounds trigger it is k, a valid
            # lower bound — emitting max_k there would overstate, ADVICE r8)
            rem = deg.select("id", F.lit(min(k, max_k)).alias("core"))
            result = rem if result is None else result.unionByName(rem)
            break
        LAST_STATS["core_numbers_waves"] += 1
        peeled = deg.filter(F.col("deg") <= k).select(
            "id", F.lit(k).alias("core")
        )
        # lazy checkpoint: truncates the union's logical plan now, defers
        # the (cheap, blocks-backed) RDD write to the final action
        result = checkpointed(
            peeled if result is None else result.unionByName(peeled),
            lazy=True,
        )
        surv = deg.filter(F.col("deg") > k).select("id")
        e = checkpointed(
            e.join(surv.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(surv.withColumnRenamed("id", "dst"), "dst", "left_semi"),
            lazy=True,
        )
        deg = checkpointed(
            surv.join(
                e.groupBy(F.col("src").alias("id")).agg(
                    F.count("*").alias("d")
                ),
                "id",
                "left",
            ).select("id", F.coalesce("d", F.lit(0)).alias("deg")),
            lazy=True,
        )
        # the wave's ONE action: reads next min-degree + survivor count
        # and materializes e/deg (and the pending result) along the way
        row = deg.agg(F.min("deg"), F.count("*")).first()
    if result is None:
        return edges.sparkSession.createDataFrame([], "id long, core int")
    return result.select("id", F.col("core").cast("int").alias("core"))


def core_numbers_hindex(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """``(id, core)`` via the iterated-h-index fixed point (Lü, Zhou,
    Zhang & Stanley, "The H-index of a network node", Nature
    Communications 2016): start every vertex at its degree and repeat

        c(v) <- H({ c(u) : u ~ v })

    (H = the h-index of the neighbor multiset); the iteration converges
    exactly to the core numbers.

    This is the DENSE-GRAPH scale path the round-4 peel audit called for
    (SCALE.md): the peel decomposition runs (outer k) x (inner peel)
    full-graph rounds — 136 degree aggregates on the sf0.01 co-purchase
    graph, whose degeneracy exceeds 64 — while the h-index fixed point
    needs only its convergence count of rounds (measured: ~an order of
    magnitude fewer) and each round is one edge-state join + one
    per-vertex window + one aggregate, independent of the core-number
    RANGE. The per-vertex h-index is computed without any collect: rank
    neighbor values descending per vertex (window) and take
    ``max(min(c, rank))``. Tests pin equality with the peel
    ``core_numbers`` on golden and random graphs.
    """
    sym = checkpointed(_sym(edges))
    state = checkpointed(
        sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("c"))
    )
    n_vertices = state.count()
    # row_number tie order among equal c values does not affect the
    # h-index (max of min(c, rank) is invariant under permuting ties), so
    # no tie-break column is needed and the result stays deterministic.
    w = Window.partitionBy("id").orderBy(F.desc("c"))
    for _ in range(max_iter):
        nbr_vals = sym.join(
            _state_hinted(state, n_vertices), sym.dst == state.id
        ).select(F.col("src").alias("id"), "c")
        h = (
            nbr_vals.withColumn("r", F.row_number().over(w))
            .select("id", F.least(F.col("c"), F.col("r")).alias("hc"))
            .groupBy("id")
            .agg(F.max("hc").alias("h"))
        )
        new_c = F.least(F.col("c"), F.col("h"))
        new_state = checkpointed(
            state.join(h, "id")
            .select(
                "id",
                new_c.alias("c"),
                (new_c < F.col("c")).cast("int").alias("chg"),
            ),
            lazy=True,  # convergence read = materializing action
        )
        changed = new_state.agg(F.sum("chg")).first()[0]
        state = new_state.drop("chg")
        if not changed:
            break
    return state.select("id", F.col("c").cast("int").alias("core"))


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _pagerank_loop(
    edges: DataFrame,
    damping: float,
    max_iter: int,
    directed: bool,
    tol: float | None,
    sym_layout: DataFrame | None = None,
    round_dp: int | None = None,
    init_ranks: DataFrame | None = None,
    sources: list[int] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """The one power-iteration loop behind :func:`pagerank`,
    :func:`personalized_pagerank` and :func:`pagerank_weighted` (GraphX's
    shape: one superstep loop, only the vertex program varies). It owns
    the layout, the base/out-degree frame, the empty-graph guard, the
    ``init_ranks`` resolution, the checkpoint cadence, the dangling-mass
    driver scalar, the L1 ``tol`` exit, the final materialization and the
    unpersist. Two inputs vary:

    * teleport — ``sources=None``: uniform 1/N,
      ``(1-d)/N + d·(inflow + dm/N)``; else a reset vector ``r`` uniform
      over ``sources``, ``((1-d) + d·dm)·r + d·inflow`` (dangling mass
      returns to the sources). Ids absent from ``init_ranks`` start at
      1/N resp. 0.0.
    * edge weight — ``weight_col=None``: unit weight on the deduped
      layout; else the weight column on a layout WITHOUT the dedup
      (parallel edges are weights) and out-strength Σw as ``out_deg``.
      ``pr·w/s`` with w ≡ 1.0 equals ``pr/out_deg`` exactly (x·1.0 is
      exact in IEEE-754), so the unit path skips the multiply.

    Both update expressions keep the floating-point order the
    unrolled-CTE oracles replay with per-round 6-dp rounding.
    """
    # dst-partitioned persistent layout: the per-round contribution
    # aggregate groups by dst, so its exchange is elided every round (see
    # _edges_partitioned). A/B'd at sf0.1 (REPORT.md r7): median 8.62 →
    # 7.53 s, new layout faster in every warmed rep despite running first
    # in each alternating pair.
    owns_layout = sym_layout is None
    if not owns_layout:
        # Shared SRC-partitioned symmetric layout (the CC/LPA frame,
        # VERDICT r7 Next #7): a symmetric edge set is invariant under
        # swapping the column names, and the swap re-keys the SAME
        # persisted frame by what this loop calls dst — the per-round
        # contribution aggregate stays exchange-free without a second
        # |E| repartition+persist. Undirected only (a symmetric layout
        # has no direction to preserve). ValueError, not assert: under
        # ``python -O`` an assert is stripped and a directed=True call
        # would silently return undirected ranks (ADVICE r8).
        if directed:
            raise ValueError("sym_layout requires directed=False")
        e = sym_layout.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
    elif weight_col is None:
        e = (
            edges.select("src", "dst")
            if directed
            else symmetrize(edges, dedup=False)
        )
        e = _edges_partitioned(e.filter(F.col("src") != F.col("dst")), "dst")
    else:
        e = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        )
        if not directed:
            e = e.unionByName(
                e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
                )
            )
        e = _edges_partitioned(
            e.filter(F.col("src") != F.col("dst")), "dst", dedup=False
        )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        (F.count("*") if weight_col is None else F.sum("w")).alias("out_deg")
    )
    base = vertices
    if sources is not None:
        src_df = e.sparkSession.createDataFrame(
            [(int(s),) for s in set(sources)], "id long"
        ).withColumn("r", F.lit(1.0 / len(set(sources))))
        base = base.join(F.broadcast(src_df), "id", "left").fillna({"r": 0.0})
    # ONE setup action (r9): the lazy-checkpointed base is materialized by
    # the same aggregate that reads |V|, the dangling count and (with a
    # reset vector) the round-0 dangling mass — the r7/r8 shape paid 4
    # setup jobs (vertices checkpoint + count, base checkpoint, dangling
    # count, ranks checkpoint) for the same scalars. vertices is
    # single-consumer (the base join) so it needs no checkpoint of its
    # own, and the initial ranks are a pure projection of the
    # checkpointed base — no state to materialize separately.
    base = checkpointed(
        base.join(out_deg, "id", "left").fillna({"out_deg": 0}), lazy=True
    )
    is_dang = F.col("out_deg") == 0
    setup = [F.count("*"), F.sum(is_dang.cast("int"))]
    if sources is not None:
        # initial ranks equal the reset vector, so the round-0 mass is the
        # reset weight on dangling sources
        setup.append(F.coalesce(F.sum(F.when(is_dang, F.col("r"))), F.lit(0.0)))
    row = base.agg(*setup).first()
    n = row[0]
    if n == 0:
        # empty edge frame: no vertices, no ranks — same empty-result
        # convention as eigenvector_centrality (its ADVICE r4 fix),
        # instead of 1.0/0 at the init.
        if owns_layout:
            e.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame(
            [], "id long, pagerank double"
        )
    # dangling vertices (no out-edges) exist only in directed mode
    has_danglings = directed and (row[1] or 0) > 0
    dangling_read = F.coalesce(F.sum(F.when(is_dang, F.col("pr"))), F.lit(0.0))
    if init_ranks is None:
        ranks = base.withColumn(
            "pr", F.lit(1.0 / n) if sources is None else F.col("r")
        )
        if not has_danglings:
            dangling_mass = 0.0
        elif sources is None:
            dangling_mass = row[1] * (1.0 / n)  # round 0: ranks are uniform
        else:
            dangling_mass = row[2]
    else:
        # continuation state: resolve (id, rank) by NAME when the frame
        # carries recognizable ones (pagerank() output plugs in
        # directly), else by position — with validation so a frame whose
        # first two columns are not (id, rank) is rejected instead of
        # silently misread (ADVICE r11). Missing ids fall back to the
        # uniform 1/N so a partial init still covers every vertex; with a
        # reset vector they get 0.0 — restart mass concentrates on the
        # walk's reach.
        iid, ipr = _resolve_init_ranks(init_ranks)
        ranks = base.join(
            _state_hinted(
                init_ranks.select(
                    F.col(iid).alias("id"), F.col(ipr).alias("_ipr")
                ),
                n,
            ),
            "id",
            "left",
        ).select(
            *base.columns,
            F.coalesce(
                "_ipr", F.lit(1.0 / n if sources is None else 0.0)
            ).alias("pr"),
        )
        # provided init: the round-0 mass has no closed form — one setup
        # action over the initial state (docstring contract)
        dangling_mass = (
            ranks.agg(dangling_read).first()[0] if has_danglings else 0.0
        )
    # Dangling mass is a driver-side SCALAR, not a broadcast frame
    # (VERDICT r6 Next #5): it is refreshed each round from the same 1-row
    # action that reads the convergence delta, then enters the next
    # superstep as a literal — the old shape crossJoin(broadcast(agg))
    # re-scanned the |V| state a second time inside every round's job and
    # added a broadcast exchange per round. A per-round scalar requires a
    # per-round materialization, so dangling mode pins cadence 1 (below
    # 4M vertices _state_cadence pins 1 anyway; past that, a directed
    # graph with danglings pays one checkpoint per round — the price of
    # per-round-exact mass redistribution).
    k = 1 if has_danglings else _state_cadence(n)
    # k == 1 (broadcast-sized state / danglings — every round materializes
    # anyway): join the update against RANKS instead of base so |Δpr|
    # rides the superstep select and the delta is a cheap scan of the
    # checkpointed frame — no per-round delta join (the eigenvector
    # pattern). k > 1 (shuffle-hash state): referencing ranks twice per
    # superstep would compound the unmaterialized plan 2^k, so keep the
    # base-join shape and pay one delta join per CHECKPOINTED round only.
    fold_delta = k == 1 and tol is not None
    share = (
        F.col("pr") / F.col("out_deg")
        if weight_col is None
        else F.col("pr") * F.col("w") / F.col("out_deg")
    )
    prev_ck = ranks  # last checkpointed state, for the k>1 delta
    converged = False  # True ⇔ the loop broke after a materializing read
    LAST_STATS["pagerank_rounds"] = 0
    for it in range(max_iter):
        LAST_STATS["pagerank_rounds"] += 1
        contribs = (
            e.join(_state_hinted(ranks.withColumnRenamed("id", "src"), n), "src")
            .select(F.col("dst").alias("id"), share.alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        updated = (ranks if fold_delta else base).join(contribs, "id", "left")
        inflow = F.coalesce("inflow", F.lit(0.0))
        if sources is None:
            new_pr = F.lit((1.0 - damping) / n) + F.lit(damping) * (
                inflow + F.lit(dangling_mass / n)
            )
        else:
            new_pr = F.lit((1.0 - damping) + damping * dangling_mass) * F.col(
                "r"
            ) + F.lit(damping) * inflow
        if round_dp is not None:
            new_pr = F.round(new_pr, round_dp)
        if fold_delta:
            ranks = checkpointed(
                updated.select(
                    *base.columns,
                    new_pr.alias("pr"),
                    F.abs(new_pr - F.col("pr")).alias("d"),
                ),
                lazy=True,  # the delta/dangling read below materializes
            )
            # ONE action reads both the L1 delta and (when needed) the
            # next round's dangling mass off the just-materialized state.
            aggs = [F.sum("d").alias("delta")]
            if has_danglings:
                aggs.append(dangling_read)
            row = ranks.agg(*aggs).first()
            delta = row[0]
            if has_danglings:
                dangling_mass = row[1]
            ranks = ranks.drop("d")
            if it < max_iter - 1 and delta is not None and delta < tol:
                converged = True
                break
            continue
        ranks = updated.select(*base.columns, new_pr.alias("pr"))
        if ((it + 1) % k == 0) or it == max_iter - 1:
            # lazy: whichever comes first — the dangling/delta read below
            # or the next superstep's state join — is the materializing
            # action; the logical plan is truncated either way
            ranks = checkpointed(ranks, lazy=True)
            if has_danglings and it < max_iter - 1:
                # tol=None path (exact-maxIter contract): the mass refresh
                # is the round's single 1-row action
                dangling_mass = ranks.agg(dangling_read).first()[0]
            # L1-delta early exit: power iteration (global or personalized)
            # is a d-contraction, so a sub-tol delta at a checkpointed
            # round bounds all remaining movement
            if tol is not None and it < max_iter - 1:
                delta = (
                    ranks.select("id", "pr")
                    .join(
                        _state_hinted(
                            prev_ck.select("id", F.col("pr").alias("pp")), n
                        ),
                        "id",
                    )
                    .agg(F.sum(F.abs(F.col("pr") - F.col("pp"))))
                    .first()[0]
                )
                if delta is not None and delta < tol:
                    converged = True
                    break
            prev_ck = ranks
    if not fold_delta and not converged:
        # tol=None / cadence>1 run-to-max_iter path: the final round's
        # lazy checkpoint got no follow-up read (dangling/delta reads are
        # gated off the last round), so materialize it NOW — needed
        # regardless of who owns the edge cache: with an OWNED layout the
        # caller's first action would silently re-run the last superstep
        # plus the layout build against the just-unpersisted frame
        # (ADVICE r8); with a CALLER-provided sym_layout the cache stays
        # live but the last superstep would still re-run against it on
        # the caller's first action (ADVICE r9 — hoisted out of
        # owns_layout).
        ranks.agg(F.count(F.lit(1))).first()
    if owns_layout:  # shared layouts outlive the call (caller-owned)
        e.unpersist(blocking=False)  # ranks is materialized; cache is dead
    return ranks.select("id", F.round(F.col("pr"), 6).alias("pagerank"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    directed: bool = False,
    tol: float | None = 1e-7,
    sym_layout: DataFrame | None = None,
    round_dp: int | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """``(id, pagerank)`` — power-iteration PageRank (= GraphFrames
    ``g.pageRank(resetProbability=1-damping, maxIter=...)``, the other
    headline API of the library the reference builds on).

    pr(v) = (1-d)/N + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling_mass/N)

    Per iteration: one join (ranks onto edge src) + one sum aggregate on
    dst — all keyed shuffles, checkpointed (SCALE.md iterative-loop
    hygiene). Dangling mass (directed mode) rides the SAME per-round
    1-row action as the convergence delta and re-enters the next
    superstep as a literal, so the superstep job scans the state exactly
    once (VERDICT r6 Next #5). Undirected mode symmetrizes first (each
    edge contributes both directions). Ranks sum to 1 (probability form).

    ``tol`` (VERDICT r4 Next #5): L1-delta early exit, piggybacked on the
    existing checkpoint cadence — at every checkpointed round the
    materialized new state is joined to the previously-checkpointed one
    (both in block storage; |V|-sized, size-hinted) and the loop exits
    when ``Σ|Δpr| < tol``. Power iteration with damping d is a
    d-contraction in L1, so the remaining total movement after exit is
    ≤ tol·d/(1-d) ≈ 5.7·tol — at the 1e-7 default, invisible at the 6-dp
    output rounding (= GraphFrames' ``pageRank(tol=...)`` convergence
    variant, with the maxIter contract preserved: pass ``tol=None`` to
    run exactly ``max_iter`` supersteps). No oscillation aliasing at
    cadence k>1: a contraction cannot cycle, so a small k-round delta
    implies convergence.

    ``round_dp`` (r9): round every round's new ranks to this many
    decimals — the HITS/kmeans cross-engine reproducibility recipe
    (fixed iteration count + per-round rounding makes each round's
    inputs identical decimals on both engines, so an unrolled-CTE
    oracle matches value-for-value; fp accumulation order never
    compounds across rounds). Production leaves it ``None``; the same
    loop, joins, and per-round actions run either way.

    ``init_ranks`` (r11): start the iteration from a caller-provided
    ``(id, rank)`` state instead of uniform — vertices absent from it
    get the uniform 1/N. Power iteration with damping d is a
    d-contraction with an init-INDEPENDENT fixed point, so this changes
    the trajectory, never the answer; its use is superstep reuse — the
    twin queries continue the production tol-run from the 4-round
    reference state so the pair pays ~4+ceil(log_d) supersteps instead
    of 4 + the full from-uniform convergence run. In directed mode the
    round-0 dangling mass is no longer the closed-form uniform value, so
    a provided init costs ONE extra setup action to read it off the
    initial state.
    """
    return _pagerank_loop(
        edges, damping, max_iter, directed, tol, sym_layout, round_dp,
        init_ranks,
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    max_iter: int = 20,
    directed: bool = False,
    tol: float | None = 1e-7,
    sym_layout: DataFrame | None = None,
    round_dp: int | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """``(id, pagerank)`` — PageRank personalized to ``sources``
    (= GraphFrames ``parallelPersonalizedPageRank`` for one source set):
    the teleport distribution is uniform over ``sources`` instead of all
    vertices, and dangling mass returns to the sources. Ranks are the
    stationary random-walk-with-restart distribution and sum to 1.

    The same loop as :func:`pagerank` (:func:`_pagerank_loop`); the reset
    vector is a broadcast-joined weight column instead of a constant.
    ``tol``, ``round_dp`` and ``sym_layout`` behave as in
    :func:`pagerank`, and ``init_ranks`` is the same trajectory-only
    continuation state (missing ids fall back to 0.0 here — mass
    concentrates on the walk's reach, not uniformly; the fixed point is
    init-independent either way).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    return _pagerank_loop(
        edges, damping, max_iter, directed, tol, sym_layout, round_dp,
        init_ranks, sources=sources,
    )


# ---------------------------------------------------------------------------
# Multi-source BFS / shortest-path distances
# ---------------------------------------------------------------------------

def multi_source_bfs(
    edges: DataFrame, landmarks: DataFrame, max_iter: int = 64
) -> DataFrame:
    """Unweighted shortest-path distances ``(landmark, id, dist)`` from every
    landmark to every reachable vertex.

    Frontier expansion: the frontier (newly-settled vertices) joins the
    symmetrized edges, anti-joins the LAST TWO levels, repeat until the
    frontier is empty. The graph is symmetrized, so a neighbor of a
    distance-(d-1) vertex has distance in {d-2, d-1, d} — a distance-d
    candidate can only collide with levels d-1 and d-2, never older ones
    (per landmark; the pair key scopes it). Two consequences vs the
    classic settled-set form (r7): the anti-join's build side is two
    LEVELS instead of the whole settled set (which for all-pairs grows to
    |V|² rows), and settled is never re-materialized per round — the
    result is a lazy union of the per-level checkpoints, so each settled
    row is written once instead of once per remaining round. Rounds =
    graph diameter; per round one join + one anti-join, all keyed
    shuffles (SURVEY.md §2.2 M6/M7 plan).

    ``landmarks``: DataFrame with column ``id``. All-pairs = pass all
    vertices (test scale); at 100 TB pass a sample (HADI/HyperANF-style
    approximations are the scale path, documented not implemented).
    """
    sym = checkpointed(_sym(edges))
    level0 = landmarks.select(
        F.col("id").alias("landmark"), F.col("id"), F.lit(0).alias("dist")
    )
    level0 = checkpointed(level0)
    levels = [level0]
    frontier, prev = level0, None
    for _ in range(max_iter):
        # hash-build on the edge side's probe partner (the frontier can be
        # |landmarks|x|V| pairs, so no broadcast; shuffle-hash avoids
        # re-sorting either side per round)
        expanded = (
            frontier.hint("shuffle_hash").join(sym, frontier.id == sym.src)
            .select("landmark", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
            .groupBy("landmark", "id")
            .agg(F.min("dist").alias("dist"))
        )
        seen = frontier if prev is None else frontier.unionByName(prev)
        new_frontier = expanded.join(
            seen.select("landmark", "id"), ["landmark", "id"], "left_anti"
        )
        # lazy + count: the emptiness probe IS the materializing action —
        # one job per level instead of checkpoint-write + isEmpty (r14,
        # guide §1.2: the loop runs diameter-many levels and the probe was
        # half its driver actions)
        new_frontier = checkpointed(new_frontier, lazy=True)
        if not new_frontier.count():
            break
        levels.append(new_frontier)
        frontier, prev = new_frontier, frontier
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def bfs(
    edges: DataFrame,
    vertices: DataFrame,
    from_expr,
    to_expr,
    edge_filter=None,
    max_path_length: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Predicate-endpoint BFS — ``(id, dist)``: the shortest hop distance
    from *any* vertex satisfying ``from_expr`` to each vertex satisfying
    ``to_expr``, traversing only edges that pass ``edge_filter``.

    This is GraphFrames ``g.bfs(fromExpr, toExpr, edgeFilter,
    maxPathLength)`` (the last unported API of the library the reference
    builds on), re-expressed as a set-source frontier expansion: the whole
    from-set advances as ONE frontier (distances collapse to the set
    minimum), so cost is one BFS regardless of how many vertices match
    ``from_expr`` — not |sources| BFS runs like ``multi_source_bfs``.

    ``vertices``: DataFrame with ``id`` + attribute columns referenced by
    the predicate expressions (SQL strings or Columns). ``edge_filter`` is
    applied to the input edge rows BEFORE symmetrization, matching
    GraphFrames' per-traversed-edge semantics for symmetric predicates.
    Per round: one equi-join + one anti-join, both keyed shuffles; rounds
    ≤ ``max_path_length``.
    """
    e = edges.select("src", "dst")
    if edge_filter is not None:
        e = e.filter(edge_filter)
    sym = checkpointed(e if directed else _sym(e))
    sources = vertices.filter(from_expr).select("id").distinct()
    level0 = checkpointed(sources.withColumn("dist", F.lit(0)))
    levels = [level0]
    frontier, prev = level0, None
    for depth in range(1, max_path_length + 1):
        # frontier ≤ |V| rows vs |E| edges: hash-build the frontier side,
        # never sort the edge table per round
        expanded = (
            frontier.hint("shuffle_hash").join(sym, frontier.id == sym.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .withColumn("dist", F.lit(depth))
        )
        if directed:
            # a directed successor can close a cycle back to ANY older
            # level — exclude the whole settled set (lazy union of the
            # per-level checkpoints; never re-materialized per round)
            seen = levels[0]
            for lv in levels[1:]:
                seen = seen.unionByName(lv)
        else:
            # symmetric graph: a neighbor of a depth-(d-1) vertex has
            # depth ≥ d-2, so only the last two levels can collide
            # (same argument as multi_source_bfs, r7)
            seen = frontier if prev is None else frontier.unionByName(prev)
        new_frontier = checkpointed(
            expanded.join(seen.select("id"), "id", "left_anti"),
            lazy=True,  # count below materializes (one job per level, r14)
        )
        if not new_frontier.count():
            break
        levels.append(new_frontier)
        frontier, prev = new_frontier, frontier
    settled = levels[0]
    for lv in levels[1:]:
        settled = settled.unionByName(lv)
    targets = vertices.filter(to_expr).select("id")
    return settled.join(targets, "id", "left_semi").select("id", "dist")


def eccentricity(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Per-vertex eccentricity over all-pairs BFS (reachable pairs only)."""
    sym = _sym(edges)
    vertices = sym.select(F.col("src").alias("id")).distinct()
    dist = multi_source_bfs(edges, vertices, max_iter=max_iter)
    return dist.groupBy(F.col("landmark").alias("id")).agg(
        F.max("dist").alias("eccentricity")
    )


def diameter(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """1-row ``(diameter)`` = max eccentricity (``nx.diameter``,
    ``/root/reference/main.py:151``). On a disconnected graph this is the
    max over components (NetworkX raises instead; we compute the useful
    thing and document the divergence)."""
    return eccentricity(edges, max_iter=max_iter).agg(
        F.max("eccentricity").alias("diameter")
    )


def diameter_double_sweep(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """1-row ``(diameter_lb)`` — double-sweep LOWER BOUND on the diameter:
    BFS from an arbitrary vertex, then BFS from the farthest vertex found;
    the second eccentricity lower-bounds the diameter (exact on trees,
    typically tight on small-world graphs). Two BFS runs instead of |V| —
    the all-pairs-free scale path for M6 (SURVEY.md §2.2 M6); the exact
    ``diameter`` stays for fixture-scale verification."""
    sym = _sym(edges)
    start = sym.agg(F.min("src").alias("id")).select("id")
    d1 = multi_source_bfs(edges, start, max_iter=max_iter)
    far = (
        d1.orderBy(F.col("dist").desc(), F.col("id").asc())
        .limit(1)
        .select("id")
    )
    d2 = multi_source_bfs(edges, far, max_iter=max_iter)
    return d2.agg(F.max("dist").alias("diameter_lb"))


def closeness_centrality(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """``(id, closeness)`` with the Wasserman–Faust component correction —
    exactly NetworkX ``closeness_centrality(wf_improved=True)``
    (``/root/reference/main.py:154-155``):

        C(v) = ((r-1) / Σ_u d(v,u)) · ((r-1) / (n-1))

    where r = vertices reachable from v (incl. v), n = |V|. Reduces to the
    classic formula on a connected graph; sane on disconnected samples
    (SURVEY.md §2.2 M7, §7.4 #5).
    """
    sym = _sym(edges)
    vertices = sym.select(F.col("src").alias("id")).distinct()
    n = vertices.count()
    dist = multi_source_bfs(edges, vertices, max_iter=max_iter)
    per_v = dist.groupBy(F.col("landmark").alias("id")).agg(
        F.count("*").alias("r"),  # reachable incl. self (dist 0)
        F.sum("dist").alias("total_dist"),
    )
    return per_v.select(
        "id",
        F.when(
            (F.col("total_dist") > 0) & (F.lit(n) > 1),
            ((F.col("r") - 1) / F.col("total_dist"))
            * ((F.col("r") - 1) / F.lit(float(n - 1))),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def average_closeness(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    return closeness_centrality(edges, max_iter=max_iter).agg(
        F.round(F.avg("closeness"), 4).alias("avg_closeness")
    )


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 50,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """``(id, eigenvector)`` — eigenvector centrality by shifted power
    iteration ``x ← (A + I)x`` with L2 normalization each step (the shift
    keeps bipartite graphs from oscillating without changing the
    eigenvectors — the same trick NetworkX's ``eigenvector_centrality``
    uses), matching NetworkX's L2-normalized convention. Rounded to 6 dp.

    Per iteration: one edge-state join + one sum aggregate (+ the A·x and
    I·x terms combined in the same select) + a 1-row L2 norm broadcast —
    the PageRank loop shape without the damping bookkeeping. On regular
    graphs the uniform vector is an exact fixed point at every step, which
    is what the ring oracle value-checks. Edge layout: src-partitioned
    persist — the per-round A·x aggregate groups by src, so its exchange
    is elided every round (the r7 loop layout, brought over from the
    katz A/B: 0.65x on the rings fixture, REPORT.md r11); ``sym_layout``
    is the shared-layout contract of :func:`katz_centrality` (r12)."""
    owns_layout = sym_layout is None
    sym = (
        _edges_partitioned(symmetrize(edges, dedup=False), "src")
        if owns_layout
        else sym_layout
    )
    vertices = sym.select(F.col("src").alias("id")).distinct()
    vertices = checkpointed(vertices, lazy=True)
    n = vertices.count()  # the materializing action (r9 setup fold)
    if n == 0:
        # empty edge frame: no vertices, no centrality — mirror
        # core_numbers' empty-result convention instead of dividing by
        # sqrt(0) (ADVICE r4).
        if owns_layout:
            sym.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame(
            [], "id long, eigenvector double"
        )
    x = checkpointed(vertices.withColumn("x", F.lit(1.0 / (n ** 0.5))))
    for _ in range(max_iter):
        ax = (
            sym.join(_state_hinted(x, n), sym.dst == x.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("x").alias("ax"))
        )
        raw = x.join(ax, "id", "left").select(
            "id", "x", (F.col("x") + F.coalesce("ax", F.lit(0.0))).alias("y")
        )
        norm = raw.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        # L1 convergence delta folded into the checkpointed frame (the
        # chg-column pattern, ADVICE r4): |new - old| rides the same
        # select, summed off the materialized result — one cheap scan of
        # |V| rows per round, and the loop exits as soon as the iterate
        # is stationary (regular graphs converge at round 1) instead of
        # always burning max_iter supersteps.
        new_x = checkpointed(
            raw.crossJoin(F.broadcast(norm)).select(
                "id",
                (F.col("y") / F.col("nrm")).alias("x"),
                F.abs(F.col("y") / F.col("nrm") - F.col("x")).alias("d"),
            ),
            lazy=True,  # the delta read below materializes (one job)
        )
        delta = new_x.agg(F.sum("d")).first()[0]
        x = new_x.drop("d")
        if delta < n * 1e-7:
            break
    if owns_layout:  # x materialized by the delta read
        sym.unpersist(blocking=False)
    return x.select("id", F.round("x", 6).alias("eigenvector"))


def luby_mis(
    edges: DataFrame,
    max_iter: int = 30,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """``(id, round)`` — a maximal independent set by Luby's algorithm
    (Luby 1986) with DETERMINISTIC priorities: each round, every active
    vertex whose priority is strictly smaller than all of its active
    neighbors' joins the set; winners and their neighborhoods leave the
    active set; repeat until it drains. Priority =
    ``md5(id) || '-' || id`` — md5 is byte-identical in Spark, DuckDB
    and Python (the ``functions/`` determinism contract), so the WHOLE
    run is replayable: the oracle re-executes the rounds, not just
    properties of the output.

    Drain contract (ADVICE r11): the result is maximal ONLY if the
    active set drained; ``LAST_STATS["mis_rounds"]`` records the rounds
    executed and ``LAST_STATS["mis_residual"]`` the active count at
    exit — 0 means drained/maximal, >0 means ``max_iter`` truncated the
    run (tests assert 0 on every fixture; callers at scale should too).

    Pipeline meaning: on a near-duplicate PAIRS graph this is the
    keep-MAXIMAL-set retention policy — the largest-possible mutually
    non-duplicate corpus — versus ``near_dup_clusters``' keep-one-per-
    component (the two extremes of dedup retention).

    Per round: one semi-join shrink of the symmetric edge list to the
    active frontier, one min-priority aggregate over it, one winner
    anti/left join, one neighborhood anti-join — all keyed; the active
    set only shrinks (each component retires ≥ its minimum every round,
    worst case ⌈n/2⌉ rounds on a path, O(log n) expected under hash
    priorities). State checkpointed per round, drain check folded onto
    the checkpoint read (one action per round). Edge layout:
    src-partitioned persist — the neighbor-min aggregate and both
    winner-side joins key on src (the katz/eigenvector r11 A/B);
    ``sym_layout`` is the same caller-held shared-layout contract as
    :func:`katz_centrality` (r12)."""
    owns_layout = sym_layout is None
    sym = (
        _edges_partitioned(symmetrize(edges, dedup=False), "src")
        if owns_layout
        else sym_layout
    )
    pr = F.concat(
        F.md5(F.col("id").cast("string")),
        F.lit("-"),
        F.col("id").cast("string"),
    )
    active = checkpointed(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("pr", pr),
        lazy=True,
    )
    n = active.count()
    LAST_STATS["mis_rounds"] = 0
    mis_parts: list[DataFrame] = []
    for rnd in range(1, max_iter + 1):
        if n == 0:
            break
        LAST_STATS["mis_rounds"] = rnd
        # active-induced neighbor minimum (both endpoints must be active:
        # src via the final join back onto `active`, dst via this join)
        nb_min = (
            sym.join(
                _state_hinted(active.withColumnRenamed("id", "dst"), n).select(
                    "dst", F.col("pr").alias("npr")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("npr").alias("mn"))
        )
        winners = (
            active.join(nb_min, "id", "left")
            .filter(F.col("mn").isNull() | (F.col("pr") < F.col("mn")))
            .select("id")
        )
        # LAZY (VERDICT r11 Next #3): the winners frame sits inside the
        # next active frame's plan (anti-join + neighborhood semi-join),
        # so the drain-check count below computes and checkpoints BOTH —
        # one driver action per round instead of two (sf0.1 bench line
        # 4.9 → 3.2-3.9 s together with the shared rings layout;
        # host-noise band ±30%, REPORT r12).
        winners = checkpointed(
            winners.withColumn("round", F.lit(rnd).cast("int")), lazy=True
        )
        mis_parts.append(winners)
        # remove winners + their neighborhoods from the active set
        nbrs = (
            sym.join(
                winners.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        active = checkpointed(
            active.join(winners, "id", "left_anti").join(nbrs, "id", "left_anti"),
            lazy=True,
        )
        n = active.count()  # drain check = the materializing action
    LAST_STATS["mis_residual"] = int(n)  # 0 ⇔ the set is maximal
    if owns_layout:  # every winners frame is checkpointed
        sym.unpersist(blocking=False)
    out = mis_parts[0] if mis_parts else edges.sparkSession.createDataFrame(
        [], "id long, round int"
    )
    for p in mis_parts[1:]:
        out = out.unionByName(p)
    return out


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w",
    damping: float = 0.85,
    max_iter: int = 8,
    directed: bool = True,
) -> DataFrame:
    """``(id, pagerank)`` — PageRank with edge WEIGHTS: each vertex
    splits its rank over out-edges proportionally,
    ``pr(v) = (1-d)/N + d·(Σ_{u→v} pr(u)·w(u,v)/s(u) + dm/N)`` with
    ``s(u)`` the out-STRENGTH (Σ of u's out-weights) and ``dm`` the
    dangling mass — the GraphFrames-missing weighted variant (count- or
    affinity-weighted graphs: co-occurrence multiplicity, interaction
    strength). Weights must be positive; zero/negative weights are a
    contract violation.

    A multigraph reduction through the unweighted loop (explode a
    weight-w edge into w unit edges) was built first and REJECTED:
    :func:`_edges_partitioned` deduplicates (src, dst) as part of the
    loop layout, silently collapsing the parallel edges back to weight
    1 (caught by the closed-form star oracle). The direct formulation
    runs the shared loop (:func:`_pagerank_loop`) with the weight
    column on a dst-partitioned persisted layout WITHOUT the dedup and
    the out-strength as the divisor.

    Fixed ``max_iter`` rounds (the oracle contract). Output rounds at
    6 dp like the unweighted loop."""
    return _pagerank_loop(
        edges, damping, max_iter, directed, None, weight_col=weight_col
    )


def edge_hash_weight(src: Column, dst: Column) -> Column:
    """Deterministic U(0,1) edge weight from the canonical endpoint pair
    — the ``dsir_select_topk`` md5 device: ``(int(md5[:8],16)+0.5)/2³²``
    is EXACTLY representable (integer + half, divided by a power of
    two), so the weight is bit-identical in Spark, DuckDB, and Python
    with no rounding step."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("-", src, dst)), 1, 8), 16, 10
    ).cast("long")
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


def boruvka_mst(
    edges: DataFrame,
    max_iter: int = 20,
    can_layout: DataFrame | None = None,
) -> DataFrame:
    """``(src, dst, w)`` — minimum spanning forest by Borůvka's
    algorithm (1926; THE data-parallel MST — every round each component
    picks its lightest outgoing edge, components merge, rounds are
    O(log n)). Weights are the deterministic :func:`edge_hash_weight`
    (callers with real weights substitute their column; the total order
    is (w, src, dst), making the forest UNIQUE — the cycle-property
    oracle depends on that).

    Per round: two component-label joins onto the edge list + one
    ``min_by``-style struct-min per component side; component
    CONTRACTION reuses :func:`connected_components` on the selected
    edges' component graph (which shrinks geometrically — the inner
    loop runs on |components| rows, not |V|). The selected-edge union
    is a forest, so contraction is cheap and exact.

    ``can_layout`` (r12): the same caller-held canonical edge set as
    :func:`greedy_matching` — the weight column is a pure projection
    added on top, so the shared frame needs no second checkpoint."""
    if can_layout is None:
        can = checkpointed(
            symmetrize(edges, dedup=True)
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .distinct()
            .withColumn("w", edge_hash_weight(F.col("src"), F.col("dst")))
        )
    else:
        can = can_layout.withColumn(
            "w", edge_hash_weight(F.col("src"), F.col("dst"))
        )
    comp = checkpointed(
        can.select(F.col("src").alias("id"))
        .union(can.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("c", F.col("id")),
        lazy=True,
    )
    n = comp.count()
    out_parts: list[DataFrame] = []
    # converged ⇔ a round found no inter-component edge (forest is
    # SPANNING); False at exit means max_iter truncated the merge loop
    # and the forest is partial (ADVICE r11 — recorded, tests assert).
    LAST_STATS["mst_rounds"] = 0
    LAST_STATS["mst_converged"] = False
    for _ in range(max_iter):
        LAST_STATS["mst_rounds"] += 1
        cu = _state_hinted(
            comp.select(F.col("id").alias("src"), F.col("c").alias("cu")), n
        )
        cv = _state_hinted(
            comp.select(F.col("id").alias("dst"), F.col("c").alias("cv")), n
        )
        ce = (
            can.join(cu, "src")
            .join(cv, "dst")
            .filter(F.col("cu") != F.col("cv"))
        )
        cand = ce.select(
            F.col("cu").alias("side"), "w", "src", "dst", F.col("cv").alias("other")
        ).unionByName(
            ce.select(
                F.col("cv").alias("side"), "w", "src", "dst",
                F.col("cu").alias("other"),
            )
        )
        # struct-min = lightest outgoing edge per component, total order
        # (w, src, dst) — ties impossible to matter (src,dst unique)
        sel = checkpointed(
            cand.groupBy("side")
            .agg(F.min(F.struct("w", "src", "dst", "other")).alias("m"))
            .select("side", "m.w", "m.src", "m.dst", "m.other")
        )
        picked = sel.select("src", "dst", "w").distinct()
        n_picked = picked.count()
        if n_picked == 0:
            LAST_STATS["mst_converged"] = True
            break
        out_parts.append(picked)
        # contract: CC over the component graph of the selected edges
        mapping = connected_components(
            sel.select(F.col("side").alias("src"), F.col("other").alias("dst"))
        ).select(F.col("id").alias("c"), F.col("component").alias("cnew"))
        comp = checkpointed(
            comp.join(mapping, "c", "left").select(
                "id", F.coalesce("cnew", F.col("c")).alias("c")
            ),
            lazy=True,
        )
        comp.count()  # materialize before the next round's double consume
    if can_layout is None:
        can.unpersist(blocking=False)
    out = out_parts[0] if out_parts else edges.sparkSession.createDataFrame(
        [], "src long, dst long, w double"
    )
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out.select("src", "dst", F.round("w", 6).alias("w")).distinct()


def greedy_matching(
    edges: DataFrame,
    max_iter: int = 30,
    can_layout: DataFrame | None = None,
) -> DataFrame:
    """``(src, dst, round)`` — a maximal matching by parallel greedy
    rounds (the edge-side sibling of :func:`luby_mis`, the
    Israeli–Itai/Luby local-minimum scheme): each round, every active
    edge whose DETERMINISTIC priority (md5 of the canonical endpoint
    pair, plus the pair itself as tie-break) is the minimum at BOTH its
    endpoints joins the matching; all edges touching a matched vertex
    retire; repeat until the active set drains. Deterministic
    priorities make the whole run REPLAYABLE in the oracle, round by
    round.

    Drain contract (ADVICE r11): maximal ONLY if the active edge set
    drained — ``LAST_STATS["matching_rounds"]`` / ``["matching_residual"]``
    record rounds executed and the active count at exit (0 ⇔ maximal).

    Pipeline meaning: maximal matching is the pairing step of
    coarsening/clustering pipelines (multilevel graph partitioning's
    heavy-edge matching, record-linkage one-to-one assignment).

    Per round: TWO endpoint-keyed min aggregates over the active edges
    combined by a full-outer least (a vertex's minimum must span both
    its src and dst roles), two winner equi-joins, one endpoint-touch
    anti-join pair — all keyed; ≥1 edge retires per active component
    per round (the local minimum always wins), O(log n) expected rounds
    under hash priorities. (r12: replaced the explode-into-endpoint-
    rows + both-ends regroup shape — byte-identical output, A/B'd
    6.6 → 6.0 s warm / 11.8 → 6.9 s cold at sf0.1: the explode doubled
    the shuffled rows and the regroup added a (src, dst) exchange.)

    ``can_layout`` (r12): a caller-held frame EXACTLY equal to
    ``symmetrize(edges, dedup=True).filter(src < dst)
    .select("src","dst").distinct()`` — the canonical edge set shared
    with :func:`boruvka_mst` on the same graph."""
    can = (
        symmetrize(edges, dedup=True)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        if can_layout is None
        else can_layout
    )
    pr = F.concat(
        F.md5(F.concat_ws("-", F.col("src"), F.col("dst"))),
        F.lit("-"),
        F.concat_ws("-", F.col("src"), F.col("dst")),
    )
    active = checkpointed(can.withColumn("pr", pr), lazy=True)
    n = active.count()
    LAST_STATS["matching_rounds"] = 0
    out_parts: list[DataFrame] = []
    for rnd in range(1, max_iter + 1):
        if n == 0:
            break
        LAST_STATS["matching_rounds"] = rnd
        ms = active.groupBy(F.col("src").alias("v")).agg(
            F.min("pr").alias("m1")
        )
        md = active.groupBy(F.col("dst").alias("v")).agg(
            F.min("pr").alias("m2")
        )
        vmin = ms.join(md, "v", "full").select(
            "v",
            F.least(
                F.coalesce("m1", F.col("m2")), F.coalesce("m2", F.col("m1"))
            ).alias("mn"),
        )
        winners = (
            active.join(
                vmin.withColumnRenamed("v", "src").withColumnRenamed(
                    "mn", "mns"
                ),
                "src",
            )
            .join(
                vmin.withColumnRenamed("v", "dst").withColumnRenamed(
                    "mn", "mnd"
                ),
                "dst",
            )
            .filter(  # minimum at BOTH endpoints
                (F.col("pr") == F.col("mns")) & (F.col("pr") == F.col("mnd"))
            )
            .select("src", "dst")
        )
        # lazy for the same one-action-per-round fold as luby_mis: the
        # active frame's anti-joins contain winners, so the drain-check
        # count materializes both checkpoints in one job
        winners = checkpointed(
            winners.withColumn("round", F.lit(rnd).cast("int")), lazy=True
        )
        out_parts.append(winners)
        matched_v = (
            winners.select(F.col("src").alias("v"))
            .unionByName(winners.select(F.col("dst").alias("v")))
            .distinct()
        )
        active = checkpointed(
            active.join(
                matched_v.withColumnRenamed("v", "src"), "src", "left_anti"
            ).join(matched_v.withColumnRenamed("v", "dst"), "dst", "left_anti"),
            lazy=True,
        )
        n = active.count()  # drain check = the materializing action
    LAST_STATS["matching_residual"] = int(n)  # 0 ⇔ matching is maximal
    out = out_parts[0] if out_parts else edges.sparkSession.createDataFrame(
        [], "src long, dst long, round int"
    )
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 20,
    tol: float | None = 1e-7,
    round_dp: int | None = None,
    normalized: bool = False,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """``(id, katz)`` — Katz centrality ``x = β·Σ_k α^k (A^T)^k 1``
    (Katz 1953), the walk-counting centrality between degree (k=1) and
    eigenvector (k→∞): every walk arriving at v contributes, damped by
    α^length. Computed by the standard fixed-point iteration
    ``x ← α·A x + β`` from x₀ = 0, which converges iff α < 1/λ₁ — the
    caller owns that bound (the classic Katz caveat; on hub-heavy graphs
    pick α from a power-iteration estimate of λ₁ first).

    Same loop shape and hygiene as :func:`eigenvector_centrality` (one
    edge-state join + sum aggregate per round, delta folded into the
    checkpointed select, lazy checkpoint materialized by the delta
    read); ``round_dp`` is the pagerank cross-engine reproducibility
    knob (fixed ``max_iter`` + per-round rounding → unrolled/closed-form
    oracle matches value-for-value); ``normalized=True`` adds NetworkX's
    final L2 normalization (one extra 1-row aggregate).

    Edge layout: src-partitioned persist — the per-round aggregate
    groups by src, so its exchange is elided every round (the r7 loop
    layout; A/B'd on the benched rings query, REPORT.md r11).
    ``sym_layout`` (r12, the pagerank contract): a caller-held persisted
    frame EXACTLY equal to
    ``_edges_partitioned(symmetrize(edges, dedup=False), "src")`` —
    shared across the algorithms reading the same graph (katz / MIS /
    eigenvector on the rings fixture); the callee then neither builds
    nor unpersists it."""
    owns_layout = sym_layout is None
    sym = (
        _edges_partitioned(symmetrize(edges, dedup=False), "src")
        if owns_layout
        else sym_layout
    )
    vertices = sym.select(F.col("src").alias("id")).distinct()
    vertices = checkpointed(vertices, lazy=True)
    n = vertices.count()
    if n == 0:
        if owns_layout:
            sym.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame([], "id long, katz double")
    x = checkpointed(vertices.withColumn("x", F.lit(0.0)))
    if tol is None:
        # Fixed-round path (VERDICT r11 Next #3 — the benched rings twin
        # runs here): no convergence test means no per-round driver
        # action. The update references the state exactly ONCE — on the
        # symmetrized graph every vertex appears as src AND dst, so the
        # in-flow aggregate covers ALL vertices and the old x-side left
        # join/coalesce (the zero-in-degree safety net) never fires —
        # so rounds CHAIN into one logical plan (linear depth, each
        # broadcast sub-job executes its round exactly once) with a
        # lineage-hygiene checkpoint every 4th round — Catalyst then
        # plans 4 rounds at a time instead of once per round, and the
        # single count below is the only driver action after setup.
        # Measured at sf0.1 on the rings fixture (8 rounds), interleaved
        # A/B including the layout build: old shape 4.3-4.4 s → this
        # shape 2.9-3.3 s (bench-context line ~4.5 s under host
        # contention; REPORT r12).
        for it in range(max_iter):
            y = F.lit(alpha) * F.col("ax") + F.lit(beta)
            if round_dp is not None:
                y = F.round(y, round_dp)
            x = (
                sym.join(_state_hinted(x, n), sym.dst == x.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("x").alias("ax"))
                .select("id", y.alias("x"))
            )
            if (it + 1) % 4 == 0 and it < max_iter - 1:
                x = checkpointed(x, lazy=True)
        x = checkpointed(x, lazy=True)
        x.agg(F.count(F.lit(1))).first()  # materialize the final state
    else:
        for it in range(max_iter):
            ax = (
                sym.join(_state_hinted(x, n), sym.dst == x.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("x").alias("ax"))
            )
            y = F.lit(alpha) * F.coalesce("ax", F.lit(0.0)) + F.lit(beta)
            if round_dp is not None:
                y = F.round(y, round_dp)
            new_x = checkpointed(
                x.join(ax, "id", "left").select(
                    "id", y.alias("x"), F.abs(y - F.col("x")).alias("d")
                ),
                lazy=True,  # the delta read below materializes (one job)
            )
            delta = new_x.agg(F.sum("d")).first()[0]
            x = new_x.drop("d")
            if it < max_iter - 1 and delta < tol:
                break
    if owns_layout:  # x is materialized either way
        sym.unpersist(blocking=False)
    if normalized:
        norm = x.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        x = x.crossJoin(F.broadcast(norm)).select(
            "id", (F.col("x") / F.col("nrm")).alias("x")
        )
    return x.select("id", F.round("x", 6).alias("katz"))


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    n_classes: int = 2,
    alpha: float = 0.8,
    max_iter: int = 6,
    round_dp: int | None = 6,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """``(id, f0..f{k-1}, label)`` — semi-supervised label spreading
    (Zhou et al., "Learning with local and global consistency",
    NeurIPS 2004), the random-walk-normalized variant:
    ``F ← α·D⁻¹A·F + (1−α)·Y`` from ``F₀ = Y``, where Y one-hot-encodes
    the seed labels. The semi-supervised member of the training family
    (supervised :mod:`functions.ml` logreg/NB/OLS, unsupervised
    k-means): a handful of labeled examples propagate over a similarity
    graph — on a near-duplicate or co-occurrence graph this is
    weak-label expansion for corpus curation. ``label`` is the 6-dp
    argmax with class-ascending tie-break (unreached vertices score 0
    everywhere and take class 0 — callers filter on score if they need
    abstention).

    Loop shape = :func:`katz_centrality`'s fixed-round path: the state
    is referenced exactly ONCE per round (the neighbor-sum aggregate;
    Y and deg ride a checkpointed base frame), so rounds chain with a
    lineage checkpoint every 4th. Determinism is STRONGER than the
    pagerank ``round_dp`` recipe: with ``round_dp`` set, the state is
    kept in INTEGER micro-units (scale = 10^round_dp), so the per-round
    neighbor SUM is a sum of longs — exact and summation-ORDER-
    independent — and the single fp expression per round
    (α·s/deg + (1−α)·y, then round-to-integer) evaluates on identical
    inputs in any engine and under any partitioning: the trajectory is
    placement-exact, not merely rounding-absorbed (a double-state
    variant measured 6th-decimal flips under a 7-partition layout).
    ``seeds``: ``(id, class)`` with class in ``[0, n_classes)``."""
    owns_layout = sym_layout is None
    sym = (
        _edges_partitioned(symmetrize(edges, dedup=False), "src")
        if owns_layout
        else sym_layout
    )
    fcols = [f"f{c}" for c in range(n_classes)]
    scale = 10 ** round_dp if round_dp is not None else None
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg")
    )
    one = F.lit(scale).cast("long") if scale else F.lit(1.0)
    onehot = seeds.select(
        "id",
        *[
            F.when(F.col("class") == c, one).otherwise(
                F.lit(0).cast("long") if scale else F.lit(0.0)
            ).alias(f"y{c}")
            for c in range(n_classes)
        ],
    )
    base = checkpointed(
        deg.join(onehot, "id", "left").fillna(
            {f"y{c}": 0 for c in range(n_classes)}
        ),
        lazy=True,
    )
    n = base.count()
    if n == 0:
        if owns_layout:
            sym.unpersist(blocking=False)
        schema = "id long, " + ", ".join(f"{f} double" for f in fcols)
        return edges.sparkSession.createDataFrame([], schema + ", label int")
    state = base.select(
        "id", *[F.col(f"y{c}").alias(f"f{c}") for c in range(n_classes)]
    )
    for it in range(max_iter):
        agg = (
            sym.join(_state_hinted(state, n), sym.dst == state.id)
            .groupBy(F.col("src").alias("id"))
            .agg(*[F.sum(f).alias(f"s{c}") for c, f in enumerate(fcols)])
        )
        upd = []
        for c in range(n_classes):
            e = F.lit(alpha) * F.coalesce(
                F.col(f"s{c}"), F.lit(0)
            ) / F.col("deg") + F.lit(1.0 - alpha) * F.col(f"y{c}")
            if scale:
                e = F.round(e, 0).cast("long")
            upd.append(e.alias(f"f{c}"))
        state = base.join(agg, "id", "left").select("id", *upd)
        if (it + 1) % 4 == 0 and it < max_iter - 1:
            state = checkpointed(state, lazy=True)
    state = checkpointed(state, lazy=True)
    state.agg(F.count(F.lit(1))).first()  # materialize the final state
    if owns_layout:
        sym.unpersist(blocking=False)
    label = F.lit(0)
    best = F.col("f0")
    for c in range(1, n_classes):
        label = F.when(F.col(f"f{c}") > best, c).otherwise(label)
        best = F.greatest(best, F.col(f"f{c}"))
    out_f = [
        (F.col(f) / F.lit(float(scale))).alias(f) if scale else F.col(f)
        for f in fcols
    ]
    return state.select("id", *out_f, label.cast("int").alias("label"))


def harmonic_centrality(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """``(id, harmonic)`` — harmonic centrality ``Σ_{u≠v} 1/d(v,u)``
    (Boldi & Vigna, "Axioms for centrality", 2014 — the closeness variant
    that is well-defined on DISCONNECTED graphs without a component
    correction: unreachable pairs contribute 0, not an undefined 1/∞).
    Matches NetworkX ``harmonic_centrality`` (unnormalized); rounded to
    6 dp for engine-exact oracle comparison. Same all-source BFS plan as
    closeness — at 100 TB, sample the sources or switch to the HyperANF
    sketch path."""
    sym = _sym(edges)
    vertices = sym.select(F.col("src").alias("id")).distinct()
    dist = multi_source_bfs(edges, vertices, max_iter=max_iter)
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy(F.col("landmark").alias("id"))
        .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"))
    )


# ---------------------------------------------------------------------------
# Betweenness centrality (Brandes)
# ---------------------------------------------------------------------------

def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_iter: int = 64,
    normalized: bool = True,
) -> DataFrame:
    """``(id, betweenness)`` via Brandes' algorithm, all sources in parallel
    as DataFrame supersteps (SURVEY.md §2.2 M5 — the hardest metric; exact
    when ``sources`` is None, sampled-source approximation otherwise with
    the standard n/K extrapolation).

    Forward phase: level-synchronous BFS keyed by (source, vertex)
    accumulating σ = #shortest paths (sum of predecessor σ per level).
    Backward phase: process levels from deepest to 0; dependency
    δ(v) = Σ_{w: succ} σ_v/σ_w · (1 + δ(w)). Each level is one join +
    one aggregate over the (source, vertex) distance table.

    Normalization (NetworkX ``betweenness_centrality`` defaults): undirected
    pair contributions are counted twice (once per endpoint as source) →
    halve, then scale by 2/((n-1)(n-2)); net δ/((n-1)(n-2)).
    """
    sym = checkpointed(_sym(edges))
    vertices = sym.select(F.col("src").alias("id")).distinct()
    n = vertices.count()
    if sources is None:
        src_df = vertices
        scale_up = 1.0
    else:
        src_df = sources.select("id")
        k = src_df.count()
        scale_up = float(n) / float(k) if k else 1.0

    # --- forward: per-level (source, id, dist, sigma) ----------------------
    # Two-level anti-join (r7, same argument as multi_source_bfs): the
    # graph is symmetric, so a depth-d candidate can only collide with
    # levels d-1/d-2 — the anti-join never rescans the whole settled set,
    # and settled is a lazy union of the per-level checkpoints (each row
    # written once, not once per remaining round).
    level0 = src_df.select(
        F.col("id").alias("source"),
        F.col("id"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    )
    level0 = checkpointed(level0)
    levels = [level0]
    frontier, prev = level0, None
    depth = 0
    for it in range(max_iter):
        expanded = (
            # no shuffle_hash hint here (unlike multi_source_bfs): the
            # sampled frontier is 16 sources wide and AQE broadcasts the
            # late sparse levels — forcing the hash join added 6 jobs and
            # ~1.5 s at sf0.1 (A/B'd r14)
            frontier.join(sym, frontier.id == sym.src)
            .select(
                "source",
                F.col("dst").alias("id"),
                (F.col("dist") + 1).alias("dist"),
                "sigma",
            )
            .groupBy("source", "id", "dist")
            .agg(F.sum("sigma").alias("sigma"))
        )
        seen = frontier if prev is None else frontier.unionByName(prev)
        new_frontier = expanded.join(
            seen.select("source", "id"), ["source", "id"], "left_anti"
        )
        # lazy + count: one job per level instead of two (r14, the
        # multi_source_bfs fold — the forward phase is diameter-deep)
        new_frontier = checkpointed(new_frontier, lazy=True)
        if not new_frontier.count():
            depth = it
            break
        levels.append(new_frontier)
        frontier, prev = new_frontier, frontier
        depth = it + 1
    settled = levels[0]
    for lv in levels[1:]:
        settled = settled.unionByName(lv)

    # --- backward: per-level dependency accumulation -----------------------
    # succ edge (source, v -> w) exists iff dist(w) = dist(v) + 1 and (v,w) edge
    sv = settled.select(
        "source", F.col("id").alias("v"), F.col("dist").alias("dv"), F.col("sigma").alias("sigma_v")
    )
    sw = settled.select(
        "source", F.col("id").alias("w"), F.col("dist").alias("dw"), F.col("sigma").alias("sigma_w")
    )
    dag = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        .join(sv, "v")
        .join(sw, ["source", "w"])
        .filter(F.col("dw") == F.col("dv") + 1)
        .select("source", "v", "w", "dv", "dw", "sigma_v", "sigma_w")
    )
    dag = checkpointed(dag)

    # Per-level delta frames, deepest-first (r7): every vertex sits in
    # exactly one BFS level per source and all its DAG successors are at
    # exactly dist+1, so δ for the level-(l-1) vertices is fully
    # determined by one pass over the level-l DAG edges. The old shape
    # joined the contribution into the FULL (source, id) delta table and
    # re-checkpointed all of it every level — O(levels × |settled|)
    # writes; this one touches only the level being computed. Deepest-
    # level δ = 0 contributes nothing to the final sum, so those rows are
    # skipped outright.
    delta_prev = levels[depth].select(
        "source", F.col("id").alias("w"), F.lit(0.0).alias("delta_w")
    )
    per_level_delta = []
    for level in range(depth, 0, -1):
        contrib = (
            dag.filter(F.col("dw") == level)
            .join(delta_prev, ["source", "w"])
            .select(
                "source",
                F.col("v").alias("id"),
                (
                    (F.col("sigma_v") / F.col("sigma_w")) * (1.0 + F.col("delta_w"))
                ).alias("c"),
            )
            .groupBy("source", "id")
            .agg(F.sum("c").alias("inc"))
        )
        lvl_delta = (
            levels[level - 1]
            .select("source", "id")
            .join(contrib, ["source", "id"], "left")
            .select(
                "source", "id", F.coalesce("inc", F.lit(0.0)).alias("delta")
            )
        )
        # Eager, deliberately (r15, VERDICT r14 Next #4 measured and
        # REJECTED): a lazy checkpoint here does not fold the backward
        # sweep into one job — the next level's contrib join broadcasts
        # ``delta_prev``, and building that broadcast forces a per-level
        # job regardless — while the lazily-constructed LogicalRDD (no
        # executed plan yet) cannot report its output partitioning, so
        # every consumer re-plans exchanges an eager checkpoint elides.
        # A/B at sf0.1 (3 reps, 32 cores): lazy 7.6-12.5 s vs eager
        # 3.0-4.1 s on betweenness_sampled; job count 84 → 83 only.
        lvl_delta = checkpointed(lvl_delta)
        per_level_delta.append(lvl_delta)
        delta_prev = lvl_delta.select(
            "source", F.col("id").alias("w"), F.col("delta").alias("delta_w")
        )

    if per_level_delta:
        delta = per_level_delta[0]
        for lv in per_level_delta[1:]:
            delta = delta.unionByName(lv)
    else:
        delta = settled.select("source", "id").withColumn("delta", F.lit(0.0))
    acc = (
        delta.filter(F.col("source") != F.col("id"))
        .groupBy("id")
        .agg(F.sum("delta").alias("raw"))
    )
    out = vertices.join(acc, "id", "left").fillna({"raw": 0.0})
    if normalized and n > 2:
        factor = scale_up / float((n - 1) * (n - 2))
    else:
        factor = scale_up / 2.0  # undirected: each pair counted from both endpoints
    return out.select("id", (F.col("raw") * F.lit(factor)).alias("betweenness"))


def average_betweenness(edges: DataFrame, **kw) -> DataFrame:
    return betweenness_centrality(edges, **kw).agg(
        F.round(F.avg("betweenness"), 6).alias("avg_betweenness")
    )


# ---------------------------------------------------------------------------
# Approximate neighborhood function (HyperANF) — the 100 TB scale path for
# diameter / effective-diameter, replacing all-pairs BFS
# ---------------------------------------------------------------------------

def neighborhood_function(
    edges: DataFrame,
    max_r: int = 32,
    lgk: int = 12,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """Approximate neighborhood function ``(r, n_pairs)`` — HyperANF
    (Boldi, Rosa & Vigna, WWW'11) on DataFrames.

    ``n_pairs(r) = Σ_v |B(v, r)|`` (reachable pairs within distance r).
    One mergeable HLL sketch per vertex holds its ball; superstep r
    replaces each sketch with the union of its own and its neighbors'
    (``hll_sketch_agg`` / ``hll_union_agg`` — Datasketches HLL, register-
    wise max, order-insensitive). The loop stops at the first radius that
    adds no pairs (= every component saturated), so rows run r = 0..D.

    Exactness regime: the sketch stores coupons exactly in sparse mode for
    small sets, so on fixture-scale graphs every value matches exact BFS
    counts bit-for-bit (the registry oracle value-checks against the
    recursive-CTE BFS). At scale the same plan is the published
    approximation (rel. error ≈ 1.04/√2^lgk ≈ 1.6% at lgk=12) — per round
    ONE |E| join + ONE |V| aggregate, versus the |V|·|E| frontier cost
    that makes exact diameter/closeness unrunnable at 100 TB.

    Replaces: all-pairs BFS underlying ``diameter``/``average_closeness``
    (NetworkX on the reference's collect()ed graph,
    ``/root/reference/main.py:203-206``).

    Superstep layout (r15 — guide §2.2 "shuffle fewer bytes"; replaces
    the r14 broadcast-state shape the driver measured REGRESSING
    10.1 → 15.7 s at 32 cores, VERDICT r14 What's wrong #1): the edges
    live in the shared src-partitioned persisted layout
    (``sym_layout`` = ``_copurchase_sym``, the CC/LPA/katz frame), and
    each round is the r13 union-fold — messages ∪ state, ONE
    ``hll_union_agg`` groupBy — but with the state joined on SRC
    instead of dst. A symmetric edge set contains (u,v) iff (v,u), so
    matching sketches through ``src`` and emitting them onto ``dst``
    yields exactly the dst-join's message multiset; register-wise max
    is order/association-insensitive, so the aggregate — and every
    estimate — is unchanged (sparse-mode coupon exactness on fixture
    graphs included: the exact-BFS oracles hold). The payoff: the join
    probes the persisted layout IN PLACE (its hash(src) partitioning
    satisfies the join requirement), so the only per-round exchanges
    are the |V|-row state into the join and the map-side-combined
    union aggregate — the |E|-row edge re-shuffle the r13 dst-join
    paid every radius is gone, and so are the r14 shape's per-round
    state broadcast (a driver collect of the widest frame in the
    engine, every radius) and its extra state-side join exchange.
    The state side takes ``shuffle_hash`` unconditionally: sketch rows
    are ~2^lgk bytes wide, so the broadcast gate that is right for
    (long, long) vertex states mis-prices this frame (the r14
    lesson)."""
    owns_layout = sym_layout is None
    if owns_layout:
        # Private layout goes through localCheckpoint, NOT persist():
        # CacheManager is plan-keyed (ADVICE r8/r14), so persisting +
        # unpersisting a plan byte-identical to the shared
        # ``_copurchase_sym`` layout would evict that shared cache out
        # from under later consumers mid-session. localCheckpoint keeps
        # the hash(src) partitioning and has no CacheManager entry.
        e = checkpointed(
            symmetrize(edges, dedup=False)
            .repartition("src")
            .dropDuplicates(["src", "dst"])
        )
    else:
        e = sym_layout
    state = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .groupBy("id")
        .agg(F.hll_sketch_agg("id", lgk).alias("sk"))
    )
    state = checkpointed(state, lazy=True)
    n_v = state.count()  # B(v, 0) = {v}; count materializes (r9)
    rows = [(0, n_v)]
    for r in range(1, max_r + 1):
        msgs = e.join(
            state.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
        ).select(F.col("dst").alias("id"), "sk")
        # The self-union is needed only in round 1 (r15). From round 2 on,
        # B_r(v) ⊆ ∪_{u∈N(v)} B_r(u) on a symmetric self-loop-free graph
        # whose vertex set is edge-derived (every v has a neighbor, and
        # for any x within r of v the first hop u of a shortest path has
        # d(u,x) ≤ r; for x = v, d(u,v) = 1 ≤ r) — so the messages alone
        # already cover the old ball and register-wise max over the same
        # set yields the SAME sketch state (the HyperANF invariant: a
        # round's sketch equals the sketch of its ball set). Round 1 is
        # the exception (∪_u B_0(u) = N(v) misses v itself). Verified
        # bit-identical estimates per round at sf0.1 and oracle-green at
        # 3 SFs; saves a |V|-row scan + that many union buffers per
        # round of the engine's widest frame.
        src_frame = msgs.unionByName(state) if r == 1 else msgs
        state = (
            src_frame
            .groupBy("id")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
        # lazy: the pair-count read below is the materializing action —
        # one job per radius instead of two (checkpoint write + read);
        # the sketch state is the widest frame in the engine (~KB per
        # row), so the saved pass matters (r12; the r7 delta-fold rule)
        state = checkpointed(state, lazy=True)
        n = state.agg(
            F.sum(F.hll_sketch_estimate("sk")).alias("n")
        ).collect()[0][0]
        if n == rows[-1][1]:
            break
        rows.append((r, n))
    spark = edges.sparkSession
    return spark.createDataFrame(rows, "r int, n_pairs long")


def effective_diameter(
    edges: DataFrame,
    fraction: float = 0.9,
    max_r: int = 32,
    lgk: int = 12,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """1-row ``(effective_diameter, n_pairs_max)``: the smallest radius r
    with ``N(r) ≥ fraction · N(∞)`` — the standard robust scale-free
    alternative to exact diameter (a single long chain can't dominate it).
    Integer convention (no interpolation) so the value is deterministic
    and oracle-checkable. ``sym_layout`` passes through to
    :func:`neighborhood_function` (the shared persisted edge layout)."""
    nf = neighborhood_function(edges, max_r=max_r, lgk=lgk, sym_layout=sym_layout)
    n_max = F.max("n_pairs").over(Window.partitionBy())
    return (
        nf.withColumn("n_max", n_max)
        .filter(F.col("n_pairs") >= fraction * F.col("n_max"))
        .agg(
            F.min("r").alias("effective_diameter"),
            F.max("n_max").alias("n_pairs_max"),
        )
    )


# ---------------------------------------------------------------------------
# k-truss (triangle-support edge peeling)
# ---------------------------------------------------------------------------

def k_truss(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph in which every edge
    participates in ≥ k−2 triangles *of that subgraph* (Cohen 2008) —
    the standard cohesion refinement between k-core and clique.

    Iterative peeling on the CANONICAL edge list (src < dst, deduped):
    each round enumerates triangles with the 2-join pattern (a<b<c comes
    free from canonical order, so each triangle appears exactly once),
    explodes each triangle to its 3 edges, counts per-edge support in one
    aggregate, and drops every edge below k−2 — all at once, so rounds are
    bounded by peeling depth, not |E|. Per round: 2 joins + 1 aggregate +
    1 semi-join, checkpointed. Scale: the triangle join is the same
    degree-bounded shape as ``metrics.triangles_per_vertex``; peeling
    whole frontiers keeps round counts small (social graphs: tens).
    """
    support_min = k - 2
    e = checkpointed(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    LAST_STATS["k_truss_rounds"] = 0
    for _ in range(max_iter):
        LAST_STATS["k_truss_rounds"] += 1
        ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                        F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                        F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .groupBy("src", "dst")
            .agg(F.count("*").alias("support"))
        )
        kept = checkpointed(
            e.join(
                sup.filter(F.col("support") >= support_min).hint("shuffle_hash"),
                ["src", "dst"],
                "left_semi",
            )
            if support_min > 0
            else e
        )
        if support_min <= 0:
            return kept
        n_dropped = e.count() - kept.count()
        e = kept
        if n_dropped == 0:
            break
    return e


def truss_numbers_hindex(
    edges: DataFrame, max_iter: int = 100, delta_frontier: bool = True
) -> DataFrame:
    """``(src, dst, truss)`` via the local fixed-point iteration (Sariyüce,
    Seshadhri & Pinar, "Local algorithms for hierarchically ordered dense
    subgraphs", WWW 2018 — the truss instance of the nucleus-decomposition
    h-index convergence; companion of :func:`core_numbers_hindex`):

        s(e) <- H({ min(s(f), s(g)) : triangles (e, f, g) }),  s0 = support

    converges exactly to τ(e) − 2.

    Structure: the triangle table is built ONCE (the peel re-enumerates
    triangles of the shrinking graph every round); each round is three
    equi-joins of that static table against the edge-state frame + one
    per-edge rank window. No max_k cap — exact for arbitrarily dense
    graphs, which makes it the exactness backstop where the peel clamps.

    MEASURED TRADEOFF (SCALE.md round-4 audit): on the co-purchase graph
    the fixed point's descent has a long tail (sf0.001: 2,400+ of 8,899
    edges still changing after 8 rounds; total rounds ≫ the peel's 75),
    so :func:`truss_numbers` (whole-frontier peel) remains the DEFAULT —
    the h-index iteration wins for cores (state per vertex, fast descent)
    but not for trusses on overlapping-clique topology.

    ``delta_frontier=True`` re-scores only edges sharing a triangle with
    a changed edge (valid because the descent is monotone; an affected
    edge's every triangle contains it, so its value multiset is complete).
    ALSO MEASURED, ALSO LOSES here: round count is unchanged and each
    round's fixed scheduler overhead (≈10 jobs) dominates once frontiers
    are small — sf0.001 co-purchase ran past 18 min vs the peel's 60 s.
    The descent-round count is the structural cost; on a real cluster the
    same analysis holds unless per-round data is the binding term. Kept
    as the exactness backstop (no max_k cap) with equality pinned on
    golden and random graphs for BOTH modes.
    """
    e = checkpointed(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    # triangles, once: canonical a < b < c, each triangle exactly one row
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = checkpointed(ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c"))

    support = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                    F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                )
            ).alias("e")
        )
        .groupBy("e.src", "e.dst")
        .agg(F.count("*").alias("s"))
    )
    state = checkpointed(
        e.join(support, ["src", "dst"], "left").fillna({"s": 0})
    )

    def _tri_touching(edge_set: DataFrame) -> DataFrame:
        """Triangles containing at least one edge of ``edge_set`` (3
        slot-wise semi-joins + distinct)."""
        t1 = tri.join(
            edge_set.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"], "left_semi",
        )
        t2 = tri.join(
            edge_set.select(F.col("src").alias("b"), F.col("dst").alias("c")),
            ["b", "c"], "left_semi",
        )
        t3 = tri.join(
            edge_set.select(F.col("src").alias("a"), F.col("dst").alias("c")),
            ["a", "c"], "left_semi",
        )
        return t1.unionByName(t2).unionByName(t3).distinct()

    w = Window.partitionBy("src", "dst").orderBy(F.desc("v"))
    frontier = None  # None = re-score everything (round 0 and full mode)
    for _ in range(max_iter):
        if frontier is None or not delta_frontier:
            tri_need, affected = tri, None
        else:
            # Delta-frontier (monotone descent => an edge's h can only
            # drop when a triangle partner dropped): re-score ONLY edges
            # sharing a triangle with a changed edge. An affected edge's
            # every triangle contains it, so the triangles-of-affected
            # set carries its FULL value multiset — no partial h.
            tri_f = _tri_touching(frontier)
            affected = checkpointed(
                tri_f.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionByName(
                    tri_f.select(F.col("b").alias("src"), F.col("c").alias("dst"))
                )
                .unionByName(
                    tri_f.select(F.col("a").alias("src"), F.col("c").alias("dst"))
                )
                .distinct()
            )
            tri_need = _tri_touching(affected)
        # attach current s of each triangle's three edges
        s1 = state.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("s").alias("s_ab"))
        s2 = state.select(F.col("src").alias("b"), F.col("dst").alias("c"), F.col("s").alias("s_bc"))
        s3 = state.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("s").alias("s_ac"))
        t = tri_need.join(s1, ["a", "b"]).join(s2, ["b", "c"]).join(s3, ["a", "c"])
        # each edge's view of each triangle: min of the OTHER two edges
        vals = t.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst"),
                        F.least("s_bc", "s_ac").alias("v"),
                    ),
                    F.struct(
                        F.col("b").alias("src"), F.col("c").alias("dst"),
                        F.least("s_ab", "s_ac").alias("v"),
                    ),
                    F.struct(
                        F.col("a").alias("src"), F.col("c").alias("dst"),
                        F.least("s_ab", "s_bc").alias("v"),
                    ),
                )
            ).alias("x")
        ).select("x.src", "x.dst", "x.v")
        if affected is not None:
            vals = vals.join(affected, ["src", "dst"], "left_semi")
        h = (
            vals.withColumn("r", F.row_number().over(w))
            .select("src", "dst", F.least(F.col("v"), F.col("r")).alias("hv"))
            .groupBy("src", "dst")
            .agg(F.max("hv").alias("h"))
        )
        # non-rescored edges (h null) keep their value: triangle-free
        # edges are already at their fixed point s=0, and in delta rounds
        # null just means "not affected this round".
        new_s = F.least(F.col("s"), F.coalesce("h", F.col("s")))
        new_state = checkpointed(
            state.join(h, ["src", "dst"], "left").select(
                "src",
                "dst",
                new_s.alias("s"),
                (new_s < F.col("s")).cast("int").alias("chg"),
            ),
            lazy=True,  # convergence read = materializing action
        )
        changed = new_state.agg(F.sum("chg")).first()[0]
        frontier = new_state.filter(F.col("chg") == 1).select("src", "dst")
        state = new_state.drop("chg")
        if not changed:
            break
    return state.select("src", "dst", (F.col("s") + 2).cast("int").alias("truss"))


def truss_numbers(
    edges: DataFrame, max_k: int = 64, max_rounds: int = 100_000
) -> DataFrame:
    """``(src, dst, truss)`` — each edge's truss number (max k with the
    edge in the k-truss; every edge is trivially in the 2-truss), by the
    same DEGENERACY-ORDER bucket peel as :func:`core_numbers` (r8),
    lifted from vertex-degree to edge-support: keep the live edge set,
    jump the level straight to (current min support + 2), and each wave
    removes EVERY edge at or below the level at once (truss = level).

    Per wave: ONE triangle enumeration of the remaining graph (the
    identical join the r4–r7 shape paid per ``k_truss`` INNER round,
    except that shape re-ran a full inner fixpoint for every k = 3, 4, …
    — outer × inner enumerations), one support aggregate, one semi-join
    shrink. Total waves ≤ the old shape's inner-round total for k=3
    alone; the level jump skips empty k's entirely. One driver action
    per wave (the min-support/size read materializes the lazy
    checkpoints — the HITS norm fold). Triangle-free edges peel at
    level 2, preserving the every-edge-gets-a-row partition contract;
    survivors past ``max_k`` emit clamped at ``max_k`` (ADVICE r3)."""
    e = checkpointed(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    out = None
    k = 2
    LAST_STATS["truss_numbers_waves"] = 0
    while True:
        ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])
        sup_nonzero = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                        F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
                        F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .groupBy("src", "dst")
            .agg(F.count("*").alias("support"))
        )
        sup = checkpointed(
            e.join(sup_nonzero, ["src", "dst"], "left").select(
                "src", "dst", F.coalesce("support", F.lit(0)).alias("support")
            ),
            lazy=True,
        )
        # the wave's ONE action: min remaining support + live edge count
        row = sup.agg(F.min("support"), F.count("*")).first()
        if not row[1]:
            break
        k = max(k, row[0] + 2)
        if k >= max_k or LAST_STATS["truss_numbers_waves"] >= max_rounds:
            # min(k, max_k): max_k trigger → the r3 clamp; max_rounds
            # trigger → the current level, a valid lower bound (ADVICE r8)
            rem = sup.select("src", "dst", F.lit(min(k, max_k)).alias("truss"))
            out = rem if out is None else out.unionByName(rem)
            break
        LAST_STATS["truss_numbers_waves"] += 1
        level = sup.filter(F.col("support") <= k - 2).select(
            "src", "dst", F.lit(k).alias("truss")
        )
        out = checkpointed(
            level if out is None else out.unionByName(level), lazy=True
        )
        # EAGER: the next wave's triangle join scans e on four legs — a
        # lazy mark would recompute the shrink once per leg before the
        # persist lands (core_numbers' e has one consumer, so it stays
        # lazy there)
        e = checkpointed(
            e.join(
                sup.filter(F.col("support") > k - 2).hint("shuffle_hash"),
                ["src", "dst"],
                "left_semi",
            )
        )
    if out is None:
        return edges.sparkSession.createDataFrame(
            [], "src long, dst long, truss int"
        )
    return out.select("src", "dst", F.col("truss").cast("int").alias("truss"))


def hits(
    edges: DataFrame,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``(id, hub, auth)`` — Kleinberg's HITS (JACM 1999) on the DIRECTED
    edge set: exactly ``n_iter`` rounds of auth ← normalize(Aᵀ·hub),
    hub ← normalize(A·auth), each half-step L2-normalized and ROUNDED to
    6 dp. The reference's library family (GraphFrames/GraphX) ships
    PageRank but not HITS; this fills the classic-SNA gap alongside
    eigenvector centrality.

    Fixed iteration count + per-half-step rounding is the kmeans-codebook
    reproducibility recipe: every half-step's inputs are identical
    decimals on both engines, so the registry oracle can unroll the SAME
    ``n_iter`` rounds as chained SQL CTEs over an arbitrary graph and
    match value-for-value — fp accumulation-order differences never
    compound across rounds.

    Plan per half-step: one edge-state join (state side size-gated
    through ``_state_hinted``) + one keyed sum, checkpointed LAZILY so
    the norm read IS the materializing action — ONE job per half-step
    computes the sums, persists the truncated blocks, and returns the L2
    norm (the PageRank dangling-mass fold, VERDICT r7 Next #5; the r7
    shape paid checkpoint + a separate ``.first()`` = 2 driver
    round-trips per half-step, 16 per run — the dominant cost at local
    scale). The normalize is a lazy projection entering the next
    half-step as a literal divisor.

    State stays SPARSE through the loop (r8): a vertex missing from a
    half-step's sum has score exactly 0 — it adds nothing to the L2 norm
    and nothing to the next half-step's edge join — so the per-half-step
    |V|-row left join the r7 shape paid to densify is pure waste; zeros
    are re-attached ONCE, in the final projection (zero-in-degree
    vertices get auth 0, zero-out-degree vertices hub 0 — same output
    table, same oracle). At 100 TB: |E|-keyed shuffles only, state
    ≤ |active| rows. ``LAST_STATS["hits_actions"]`` counts
    per-half-step driver actions — the telemetry the action-fold test
    asserts on.
    """
    from pyspark import StorageLevel

    if n_iter < 1:
        # the final densify joins the last auth half-step, which exists
        # only after one round
        raise ValueError(f"n_iter must be >= 1; got {n_iter}")
    d = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # TWO key-partitioned persisted layouts (r15, guide §2.4 "remove
    # shuffles outright"): the half-steps alternate their aggregate key
    # (auth groups by dst, hub by src), so ONE layout can only elide half
    # the per-half-step exchanges. A dst-partitioned copy serves the auth
    # half and a src-partitioned copy the hub half: each half-step's
    # broadcast state join preserves the probed layout's partitioning and
    # its keyed sum runs exchange-free — the per-half-step |E|-row
    # exchange (2·n_iter of them) is gone for the price of one extra |E|
    # materialization up front. Partition counts are data-derived
    # (_adaptive_edge_parts). A/B at sf0.1 (3 reps, 32 cores): 5.2-5.7 s
    # → 4.8-5.0 s warm, identical values; per-half-step exchanges 1 → 0.
    d = checkpointed(d)  # one distinct pass feeds the count + both layouts
    n_e = d.count()
    e_auth = d.repartition(
        _adaptive_edge_parts(n_e, edges.sparkSession), "dst"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e_hub = d.repartition(
        _adaptive_edge_parts(n_e, edges.sparkSession), "src"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    verts = (
        e_auth.select(F.col("src").alias("id"))
        .union(e_auth.select("dst"))
        .distinct()
    )
    verts = checkpointed(verts, lazy=True)
    n = verts.count()  # the materializing action (r9 setup fold)
    if n == 0:
        e_auth.unpersist(blocking=False)
        e_hub.unpersist(blocking=False)
        return edges.sparkSession.createDataFrame(
            [], "id long, hub double, auth double"
        )
    hub = verts.withColumn("hub", F.lit(1.0))
    auth = None
    LAST_STATS["hits_actions"] = 0

    def _half(state: DataFrame, val: str, join_on: str, group_to: str):
        """One half-step: sum ``val`` over ``join_on``-matched edges onto
        ``group_to`` endpoints, L2-normalize, round 6 dp — one action,
        sparse state (absent id ⇔ score 0). Probes the layout whose
        partitioning key is the AGGREGATE key (``group_to``) so the keyed
        sum needs no exchange."""
        e = e_auth if group_to == "dst" else e_hub
        summed = (
            e.join(_state_hinted(state, n), F.col(join_on) == state["id"])
            .groupBy(F.col(group_to).alias("id"))
            .agg(F.sum(val).alias("r"))
        )
        # lazy checkpoint: the norm aggregate below is the action that
        # materializes the truncated blocks AND returns the scalar
        raw = checkpointed(summed, lazy=True)
        nrm = raw.agg(F.sqrt(F.sum(F.col("r") * F.col("r")))).first()[0]
        LAST_STATS["hits_actions"] += 1
        out_col = "auth" if group_to == "dst" else "hub"
        return raw.select(
            "id", F.round(F.col("r") / F.lit(nrm), 6).alias(out_col)
        )

    for _ in range(n_iter):
        auth = _half(hub, "hub", "src", "dst")
        hub = _half(auth, "auth", "dst", "src")
    # every half-step state is localCheckpoint-materialized (the norm
    # read), so the edge layouts are dead here — the final densify below
    # reads checkpointed blocks only
    e_auth.unpersist(blocking=False)
    e_hub.unpersist(blocking=False)
    # densify ONCE: zero-out-degree vertices carry hub 0, zero-in-degree
    # vertices auth 0 — identical to the r7 per-half-step left joins
    return (
        verts.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
