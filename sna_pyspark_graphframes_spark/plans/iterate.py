"""Iteration hygiene and the shared superstep pieces of the DataFrame loops.

Iterative algorithms (LPA, connected components, BFS) re-derive a DataFrame
from itself each round; without truncation the Catalyst plan doubles per
iteration and analysis time explodes (SURVEY.md §4.1 "iterative-plan
hygiene", §7.4 #1). ``checkpointed`` materializes the frame and truncates
lineage every call.

``localCheckpoint`` keeps blocks on executors (no HDFS requirement) —
correct for local mode and acceptable on clusters with reliable executors;
flip ``eager_reliable=True`` (+ ``spark.sparkContext.setCheckpointDir``)
for fault-tolerant checkpoints on a real 1000-executor run where
recomputing 50 iterations on executor loss is worse than the HDFS write.

Two pieces of the superstep loop live here, so each loop in
``graph/algorithms.py`` states only its vertex program:

* ``frontier_supersteps`` — the delta-propagating round: the step
  returns the next state with a 0/1 ``chg`` column, one job checkpoints
  it and reads Σ``chg``, the changed rows are the next frontier, and the
  loop stops at an empty frontier or ``max_iter``. Used by
  ``connected_components`` (min over neighbours), ``label_propagation``
  (mode, with its dense/frontier gate), ``weighted_sssp`` (min-plus),
  ``widest_path`` (max-min) and the forward pass of
  ``strongly_connected_components`` (min along arcs).
* ``layout_scope`` — the lifetime of a loop's persisted edge layout: a
  caller's shared layout passes through untouched, an own layout is
  unpersisted on every exit (normal end, early return, exception). Used
  by CC, LPA, the PageRank loop, eigenvector, MIS, katz, label spreading
  and HITS.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Loop-body plan capture (r15, VERDICT r14 Next #5): the per-round frames
# of the iterative algorithms execute inside collect()/count() actions and
# never appear in the returned frame's plan — the committed before/after
# "evidence" for loop queries was a vacuous 1-line Scan ExistingRDD. When
# ``SPARK_GRAFT_LOOP_PLAN_DIR`` is set (tools/profile_query.py --loop-plans
# sets it per query), every frame passed through ``checkpointed`` — i.e.
# each superstep's state, exactly where the loop optimizations live — has
# its ``explain("formatted")`` text written to that directory, numbered in
# call order. Zero overhead when unset (one env read per call).
_CAPTURE_SEQ = itertools.count()


def _capture_plan(df: DataFrame) -> None:
    cap_dir = os.environ.get("SPARK_GRAFT_LOOP_PLAN_DIR")
    if not cap_dir:
        return
    try:
        txt = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        os.makedirs(cap_dir, exist_ok=True)
        with open(
            os.path.join(cap_dir, f"ckpt_{next(_CAPTURE_SEQ):03d}.txt"), "w"
        ) as f:
            f.write(txt)
    except Exception:
        pass  # diagnostics only — never fail the algorithm


def checkpointed(
    df: DataFrame, eager_reliable: bool = False, lazy: bool = False
) -> DataFrame:
    """Materialize ``df`` and return a lineage-free frame.

    ``lazy=True`` marks the frame for checkpointing but defers
    materialization to the CALLER'S next action — for loops that read a
    driver scalar off the freshly-truncated state anyway (HITS L2 norm,
    PageRank delta), the scalar read and the checkpoint write then share
    ONE job instead of two (VERDICT r7 Next #5). The caller must run an
    action before deriving further lineage from the result."""
    _capture_plan(df)
    if eager_reliable:
        return df.checkpoint(eager=not lazy)
    return df.localCheckpoint(eager=not lazy)


def frontier_supersteps(
    state: DataFrame,
    n_frontier: int,
    max_iter: int,
    step: Callable[[DataFrame, DataFrame, int], DataFrame],
) -> tuple[DataFrame, int]:
    """Run ``step(state, frontier, n_frontier)`` to a fixed point or
    ``max_iter`` rounds; return ``(final state, rounds run)``.

    The first frontier is ``state`` itself (``n_frontier`` rows), so
    every initial value is proposed once. ``step`` returns the next state
    with a 0/1 ``chg`` column; its lazy checkpoint is materialized by the
    Σ``chg`` read, so a round costs ONE job (the convergence fold,
    VERDICT r3 #3; ADVICE r4: a separate changed-count join and action
    per round measured 2.3x slower on CC). The changed rows, without
    ``chg``, are the next frontier; why that frontier is exact is the
    step's argument (an idempotent merge for min/max, the unchanged
    histogram for LPA's mode). The returned state has no ``chg`` column;
    after one round or more it is materialized."""
    frontier, rounds = state, 0
    while rounds < max_iter:
        rounds += 1
        nxt = checkpointed(step(state, frontier, n_frontier), lazy=True)
        n_frontier = int(nxt.agg(F.sum("chg")).first()[0] or 0)
        frontier = nxt.filter(F.col("chg") == 1).drop("chg")
        state = nxt.drop("chg")
        if not n_frontier:
            break
    return state, rounds


@contextmanager
def layout_scope(
    build: Callable[[], DataFrame], shared: DataFrame | None = None
) -> Iterator[DataFrame]:
    """Yield ``shared`` untouched when the caller holds the layout (its
    lifetime is the caller's); otherwise yield ``build()`` and unpersist
    it on every exit — normal end, early return or exception. The body
    must materialize whatever it returns before leaving the scope."""
    if shared is not None:
        yield shared
        return
    layout = build()
    try:
        yield layout
    finally:
        layout.unpersist(blocking=False)
