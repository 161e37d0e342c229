"""Graph construction operators — edge symmetrization, adjacency, endpoint
normalization, induced subgraphs, and graph-from-relational-table builders.

Reference parity map (SURVEY.md §2.1):
  * #4/#5  vertex derivation (union+distinct)      -> Graph.from_edges
  * #7     endpoint-normalization left joins        -> normalize_edges
  * #15    edge symmetrization (RDD map ×2)         -> symmetrize
  * #16/17 adjacency grouping (buggy groupByKey)    -> adjacency (intended
           semantics: full undirected neighbor set, SURVEY.md §2.5 #2)
  * #25/26 cartesian+filter induced edges (O(n²))   -> induced_subgraph
           (two semi-joins — linear, identical result set)

Scale notes: every op here is a single shuffle on a key column or a
broadcast-able join; nothing materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Emit both (src,dst) and (dst,src) — undirected adjacency semantics.

    Mirrors the reference's E1/E2 RDD maps (``/root/reference/main.py:176-177``)
    as a narrow union (no shuffle). ``dedup=True`` additionally collapses
    duplicate directed edges (one hash-aggregate shuffle).
    """
    # explode of a 2-struct array, not union-of-2-selects: a union evaluates
    # the upstream subtree once per branch (expensive when edges is an
    # unmaterialized join, e.g. the co-purchase self-join); explode emits
    # both directions in one pass. Still narrow — no shuffle.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    sym = sym.filter(F.col("src") != F.col("dst"))  # drop self-loops for metric sanity
    return sym.distinct() if dedup else sym


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set with src < dst — one row per undirected edge."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def normalize_edges(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Re-key edge endpoints against a canonical vertex table.

    The reference does two LEFT joins against the derived vertex ids
    (``/root/reference/main.py:33-37``). The vertex table is the smaller
    side but |V| rows — it grows with the data, so it carries no broadcast
    hint (unbounded-frame rule, SCALE.md): AQE broadcasts it from exact
    runtime sizes whenever it fits, and the fact table never shuffles in
    that regime; past executor memory the hint would OOM where a
    shuffle-hash join keeps working.
    """
    cols = edges.columns
    v = vertices.select(F.col("id").alias("__vsrc"))
    v2 = vertices.select(F.col("id").alias("__vdst"))
    e = edges.join(v, edges.src == F.col("__vsrc"), "left")
    e = e.join(v2, e.dst == F.col("__vdst"), "left")
    return e.select(*cols)


def adjacency(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Per-vertex neighbor list: ``(id, nbrs: array<long>)``.

    Implements the *intended* semantics of the reference's grouped-union
    (``/root/reference/main.py:176-180`` keeps only one direction's list per
    vertex — documented bug, SURVEY.md §2.5 #2): symmetrize, then a single
    ``collect_set`` aggregate. ``sort_array`` makes the result deterministic
    for oracle comparison. Map-side partial aggregation applies; one shuffle
    on ``src``.
    """
    e = edges.select("src", "dst") if directed else symmetrize(edges, dedup=False)
    return (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
    )


def induced_subgraph(edges: DataFrame, sample_vertices: DataFrame) -> DataFrame:
    """Edges with BOTH endpoints in ``sample_vertices`` (column ``id``).

    Replaces the reference's O(n²) cartesian candidate set joined against the
    edge list (``/root/reference/main.py:192-195``) with two semi-joins —
    linear in |E|, identical result set (SURVEY.md §2.1 #26). The sample is
    usually small but caller-supplied and unbounded (a "sample" of a 10⁹
    vertex graph can itself be huge), so it carries no broadcast hint
    (unbounded-frame rule, SCALE.md): AQE turns both semi-joins into
    broadcasts from the runtime size whenever the sample fits, and the
    edge table never shuffles in that regime.
    """
    s = sample_vertices.select("id").distinct()
    e = edges.join(s, edges.src == s.id, "left_semi")
    return e.join(s, e.dst == s.id, "left_semi")


# ---------------------------------------------------------------------------
# Graph builders over the relational testdata (FIXTURES.md §3) — each has a
# deterministic SQL twin so the oracle harness can verify the derivation.
# ---------------------------------------------------------------------------

def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Co-purchase graph over parts: an edge (p1, p2), p1 < p2, iff the two
    parts appear in the same order. Self-equi-join on ``l_orderkey`` with a
    range predicate to halve the pair space; DISTINCT to collapse repeats.

    Scale: the join shuffles on ``l_orderkey`` (natural key, well
    distributed). A pathological order containing k parts emits k² pairs —
    AQE skew-join handles the shuffle side; upstream, orders are bounded in
    practice (TPC-H ≤ 7 lines).
    """
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def customer_nation_edges(customer: DataFrame, nation: DataFrame, offset: int = 1_000_000) -> DataFrame:
    """Bipartite customer→nation graph; nation ids shifted by ``offset`` into
    a disjoint id space. Nation is tiny → broadcast."""
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
        )
        .select(
            F.col("c_custkey").alias("src"),
            (F.col("n_nationkey").cast("long") + F.lit(offset)).alias("dst"),
        )
    )


def user_session_edges(events: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Temporal proximity graph: event pairs of the same user within
    ``gap_seconds``. Equi-join on user_id + range predicate on the timestamp
    delta (the range filter applies post-join; the equi-key keeps it a hash
    join, not a cartesian)."""
    a = events.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("src"),
        F.col("ts").alias("ts_a"),
    )
    b = events.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("dst"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(b, "u")
        .filter(
            (F.col("src") < F.col("dst"))
            # two-sided interval comparison = abs(ts_a - ts_b) < gap,
            # valid for TIMESTAMP and TIMESTAMP_NTZ alike
            & (F.col("ts_a") - F.col("ts_b") < F.expr(f"INTERVAL {int(gap_seconds)} SECONDS"))
            & (F.col("ts_b") - F.col("ts_a") < F.expr(f"INTERVAL {int(gap_seconds)} SECONDS"))
        )
        .select("src", "dst")
    )
