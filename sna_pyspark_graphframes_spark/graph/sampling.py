"""Community-based graph sampling via parallel random walks — the
reference's headline pipeline (``/root/reference/main.py:113-197``; paper
Algorithm 1), Spark-native.

Pipeline (SURVEY.md §3.3 rebuild note):
    edges → LPA labels → dense re-key → adjacency ⋈ labels
          → groupBy(label).applyInPandas(walk kernel)   # one Arrow crossing
          → distinct sampled ids → induced subgraph (two semi-joins)

The ONLY Python compute is the walk kernel — per-community sequential by
nature (a random walk is a chain); the parallelism unit is the community,
exactly as in the reference (``mapPartitions`` with one partition per
community, ``main.py:184-185``) but via ``applyInPandas``: no manual
partitioner, Arrow-batched transfer, AQE-managed shuffle.

Determinism: per-community RNG seeded by ``(seed, label)`` so output is
identical regardless of task placement (FIXTURES.md §5; the reference's
unseeded ``np.random`` — SURVEY.md §2.5 #5 — is replaced by an explicit
seed).

Walk-kernel semantics preserved from ``/root/reference/main.py:55-105``:
  * community cc modulates walk length (computed distributively by the
    triangle pass and averaged per community — see
    ``community_random_walk`` for the estimator note; the reference runs
    NetworkX inside the kernel, its hot spot);
  * walk length = int(n / (1 + alpha·cc)) + 1, n = community size;
  * steps move to a uniform random INTRA-community neighbor; a revisited
    vertex consumes the step without being recorded; a dead-end vertex
    stalls the walk permanently (we break instead of spinning — identical
    output, no wasted cycles).

Skew guard (SURVEY.md §7.4 #3): LPA on power-law graphs can emit a giant
community whose adjacency won't fit one task. ``max_walk_steps`` bounds the
kernel loop; the adjacency memory bound itself should be handled upstream
by splitting oversized labels (salting) before the walk — documented, not
triggered at test scale.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sna_pyspark_graphframes_spark.graph.algorithms import (
    dense_rekey,
    label_propagation,
)
from sna_pyspark_graphframes_spark.graph.build import (
    adjacency,
    induced_subgraph,
    symmetrize,
)


def walk_length(n_nodes: int, cc: float, alpha: float) -> int:
    """``int(n / (1 + alpha·cc)) + 1`` (``/root/reference/main.py:51-52``)."""
    return int(n_nodes / (1.0 + alpha * cc)) + 1


def _walk_one_community(
    ids: np.ndarray,
    nbrs_col: list,
    label: int,
    alpha: float,
    seed: int,
    max_walk_steps: int,
    cc: float,
) -> list[int]:
    # SORT everything before any RNG draw: the Arrow batch's row order (and
    # each nbrs array's order) depends on upstream partitioning — the seeded
    # walk is placement-independent only over canonically-ordered inputs
    # (FIXTURES.md §5 contract; caught by running under a different
    # shuffle-partition count).
    #
    # Vectorized (r14, guide §4.2): the original per-element Python
    # comprehensions (sorted(int(u) ...) per row + a set-membership filter
    # over every neighbor entry) dominated the kernel at ~1.4 s warm for a
    # 20k-vertex community — numpy does the same canonicalization as one
    # global lexsort + isin over the flattened adjacency. Equivalence to
    # the scalar form (and hence to the pinned golden walks): ids are
    # unique, so ordering rows by id matches sorting (id, nbrs) tuples;
    # per-row neighbor lists end up ascending either way; and the RNG
    # consumption below is untouched (same draws in the same order).
    ids64 = np.asarray(ids, dtype=np.int64)
    row_order = np.argsort(ids64)
    vertices = ids64[row_order]
    counts = np.fromiter(
        (len(n) for n in nbrs_col), dtype=np.int64, count=len(nbrs_col)
    )
    if counts.sum():
        flat = np.concatenate(
            [np.asarray(n, dtype=np.int64) for n in nbrs_col]
        )
    else:
        flat = np.empty(0, dtype=np.int64)
    # row index of each flattened entry, in SORTED-row numbering
    rank_of_row = np.empty(len(ids64), dtype=np.int64)
    rank_of_row[row_order] = np.arange(len(ids64))
    flat_row = np.repeat(rank_of_row, counts)
    keep = np.isin(flat, vertices)
    kept_vals, kept_rows = flat[keep], flat_row[keep]
    order2 = np.lexsort((kept_vals, kept_rows))  # by row, then ascending value
    kept_vals = kept_vals[order2]
    splits = np.searchsorted(kept_rows[order2], np.arange(1, len(ids64)))
    per_row = np.split(kept_vals, splits)
    intra = {int(v): a for v, a in zip(vertices, per_row)}

    rng = np.random.default_rng((seed * 1_000_003 + label) % (2**63))
    start = int(rng.choice(vertices))
    visited = [start]
    seen = {start}  # set twin of the ordered list: O(1) membership — a
    # list scan per step is O(steps x |visited|), dominating large walks
    steps = min(walk_length(len(vertices), cc, alpha), max_walk_steps)
    for _ in range(1, steps):
        nbrs = intra[start]
        if not len(nbrs):
            break  # dead-end: reference spins in place forever — same output
        start = int(nbrs[rng.integers(0, len(nbrs))])
        if start not in seen:
            seen.add(start)
            visited.append(start)
    return visited


def community_random_walk(
    labeled_adjacency: DataFrame,
    alpha: float = 2.0,
    seed: int = 42,
    max_walk_steps: int = 10_000_000,
) -> DataFrame:
    """Run one seeded random walk per community in parallel.

    ``labeled_adjacency``: ``(id long, label long, nbrs array<long>,
    cc double)`` — ``cc`` is the vertex's local clustering coefficient,
    computed DISTRIBUTIVELY by the triangle-join pass (``metrics.
    local_clustering``) and averaged per community inside the kernel.

    The reference computes the community cc inside the Python kernel with
    NetworkX over all incident edges (``/root/reference/main.py:80-81``) —
    O(Σ deg²) per community in Python, the sampler's hot spot. Pre-computing
    cc JVM-side (the alternative SURVEY.md §2.1 #21 names) makes the kernel
    O(walk length); divergence: cc here is each member's global clustering
    averaged over the community, rather than clustering within the
    incident-edge subgraph — same quantity the paper describes ("community's
    average clustering coefficient"), slightly different estimator; it only
    modulates walk LENGTH, and the sampler's correctness contract is the
    invariant set (FIXTURES.md §5), which is estimator-independent.

    Returns ``(id long, label long)`` — distinct vertices visited per
    community. Grouped-map pandas UDF: one Arrow batch per community.
    """
    alpha_f = float(alpha)
    seed_i = int(seed)
    cap = int(max_walk_steps)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        label = int(pdf["label"].iloc[0])
        cc = float(pdf["cc"].mean()) if len(pdf) else 0.0
        visited = _walk_one_community(
            pdf["id"].to_numpy(), list(pdf["nbrs"]), label, alpha_f, seed_i, cap, cc
        )
        return pd.DataFrame({"id": visited, "label": [label] * len(visited)})

    return labeled_adjacency.groupBy("label").applyInPandas(
        kernel, schema="id long, label long"
    )


def split_oversized_communities(
    labels: DataFrame, max_size: int, seed: int = 42
) -> DataFrame:
    """Skew guard (SURVEY.md §7.4 #3): split communities larger than
    ``max_size`` into salted sub-labels so no single ``applyInPandas`` group
    exceeds the bound.

    Sub-label = ``label * SALT_SPACE + (hash(id, seed) % n_splits)`` —
    deterministic per (id, label, seed), independent of task placement.
    Each sub-community then gets its own walk, which bounds both kernel
    memory and wall-clock; the union of walks still covers the original
    community (more, shorter walks — the paper's one-walk-per-community
    becomes k walks for giant communities, a deliberate scale divergence).
    """
    # No broadcast hint on `sizes`: one row per community is unbounded at
    # 100 TB graph scale; AQE picks broadcast at runtime when it fits.
    sizes = labels.groupBy("label").agg(F.count("*").alias("n"))
    salted = (
        labels.join(sizes, "label")
        .withColumn(
            "n_splits", F.ceil(F.col("n") / F.lit(max_size)).cast("long")
        )
        .withColumn(
            "sub",
            F.pmod(F.hash(F.col("id"), F.lit(seed)), F.col("n_splits")).cast("long"),
        )
        .select(
            "id",
            (F.col("label") * F.lit(1_000_000) + F.col("sub")).alias("label"),
        )
    )
    return salted


@dataclass(frozen=True)
class SampleResult:
    labels: DataFrame          # (id, label) dense communities
    sampled_vertices: DataFrame  # (id)
    sampled_edges: DataFrame     # (src, dst) induced subgraph


def sample_graph(
    edges: DataFrame,
    alpha: float = 2.0,
    max_iter: int = 5,
    seed: int = 42,
    max_community_size: int | None = None,
    vertex_cc: DataFrame | None = None,
    labels: DataFrame | None = None,
    sym: DataFrame | None = None,
) -> SampleResult:
    """End-to-end community-based sample (paper Algorithm 1; defaults a=2,
    maxIter=5 match ``/root/reference/main.py:119-120``).

    ``max_community_size`` enables the oversized-community split (one walk
    per sub-community) — set it on power-law graphs where LPA emits a giant
    label. ``vertex_cc`` ``(id, cc)`` lets callers reuse an
    already-computed clustering frame (the triangle pass is the costliest
    input; callers that already hold the graph's ``metrics.
    triangle_basis`` — ``pipeline.run_pipeline``, ``registry._tri`` —
    should pass it); without it the same helper builds one from ``sym``."""
    from sna_pyspark_graphframes_spark.graph.metrics import (
        local_clustering,
        triangle_basis,
    )
    from sna_pyspark_graphframes_spark.plans.iterate import checkpointed

    # checkpoint (not lazy cache): reused by LPA + adjacency + the induced
    # subgraph, and the LPA loop assumes a materialized symmetric frame.
    # CONTRACT for a caller-provided ``sym``: the DEDUPED symmetric
    # closure of ``edges``, already materialized (a persisted shared
    # layout — e.g. ``registry._copurchase_sym`` — qualifies and skips
    # this per-call checkpoint entirely; VERDICT r9 Next #6).
    if sym is None:
        sym = checkpointed(symmetrize(edges, dedup=True))
    # ``labels`` lets callers reuse an already-computed LPA frame (engines
    # that just ran community detection on the same graph — see
    # ``registry._lpa_labels`` — shouldn't pay the 5-superstep loop twice);
    # the split/re-key normalization below still applies either way.
    if labels is None:
        labels = label_propagation(sym, max_iter=max_iter, assume_symmetric=True)
    if max_community_size is not None:
        labels = split_oversized_communities(labels, max_community_size, seed)
    labels = dense_rekey(labels).cache()
    labels.count()
    # Materialize the two walk inputs BEFORE the group-map shuffle. Folded
    # into one mega-plan, the adjacency collect_set and the triangle pass
    # run inside the same job as the applyInPandas shuffle, and AQE plans
    # their exchanges against the walk's tiny group cardinality — measured
    # 61 s vs 16 s at sf0.1 for the whole walk stage. Checkpointing gives
    # each input its own fully-parallel job and the walk join reads flat
    # materialized frames (the clustering frame is a |V| join of the
    # basis's checkpointed degree and triangle tables).
    adj = checkpointed(adjacency(sym, directed=True))  # sym already both directions
    if vertex_cc is None:
        basis = triangle_basis(sym)
        vertex_cc = local_clustering(sym, deg=basis.deg, tri=basis.tri)
    labeled_adj = (
        labels.join(adj, "id")
        .join(vertex_cc, "id", "left")
        .fillna({"cc": 0.0})
    )
    walks = community_random_walk(labeled_adj, alpha=alpha, seed=seed)
    # eager materialization: the walk lineage (LPA + triangle pass + Arrow
    # kernel) must run exactly ONCE — a lazy .cache() would re-execute it
    # for each of the induced-subgraph semi-joins before the cache fills
    sampled_vertices = checkpointed(walks.select("id").distinct())
    sampled_edges = induced_subgraph(sym, sampled_vertices)
    return SampleResult(labels, sampled_vertices, sampled_edges)
