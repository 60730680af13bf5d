"""One driver for the iterative graph operators (PageRank, LPA, BFS,
k-core, k-truss, SCC, betweenness, connected components).

Every such loop needs the same four things, and `fixpoint` owns them so
no operator hand-rolls them:

- lineage truncation: an eager `localCheckpoint` of the state every
  `checkpoint_every` steps, so the logical plan stays a bounded number of
  joins deep however many steps run (a lazy 20-step loop carries a
  20-join plan into every stage resubmission; a step that reads the
  previous state twice doubles the plan per step);
- release: each checkpoint is freed as soon as a newer one supersedes it,
  and every intermediate is freed in a `finally`, also when the loop
  raises — a long-lived session must not accumulate cached blocks across
  queries;
- the round guard: with `converged`, running out of `max_iter` steps
  raises (a silently truncated peel or labeling is a wrong answer);
  without it, exactly `max_iter` steps run (the fixed-round contract
  variants, whose DuckDB twins unroll the same count);
- the result: `finish(state)` is checkpointed eagerly, so the caller can
  drop every cache the loop read from. When the last state already is
  that checkpoint, it is handed over as is (no second copy).

The relation a loop re-reads every step (its graph view from
operators/graphview, or a relation built on it) is not the loop state
and is held by the operator, in the same one way: a local checkpoint,
freed with `release` in the operator's `finally`. No graph operator
uses `persist`: a persisted relation keeps its child's plan, and every
reference to it carries that plan again.

Order within a step: `new = step(state)`, then the checkpoint if one is
due, then `converged(state, new)` — a convergence probe (usually a
count) therefore reads the fresh checkpoint instead of recomputing the
step, and the superseded checkpoint is freed only after the probe, which
may still read it through `state`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def release(df: DataFrame) -> None:
    """Drop the cached blocks behind a localCheckpoint-ed DataFrame.
    Dataset.unpersist only covers CacheManager entries; a local checkpoint
    registers its RDD directly, reachable via the LogicalRDD node. A no-op
    on a DataFrame that is not a checkpoint. Only call on checkpoints that
    nothing downstream will read again."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked cache block is preferable to a crash


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    *,
    max_iter: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    checkpoint_every: int,
    what: str,
    finish: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Iterate `state = step(state)` and return the eagerly checkpointed
    `finish(state)` (default: the state itself), owned by the caller.

    With `converged(prev, new)`, stops at the first step it returns True
    and raises RuntimeError if that has not happened within `max_iter`
    steps; at a fixpoint `new` equals `prev`, so whichever of the two is
    already materialized is kept. With `converged=None`, runs exactly
    `max_iter` steps; the last one is not checkpointed, since the result
    checkpoint follows. The initial `state` belongs to the caller and is
    never released here."""
    ckpt: DataFrame | None = None  # newest checkpoint made here
    stale: DataFrame | None = None  # superseded, freed after the probe
    try:
        for i in range(1, max_iter + 1):
            new = step(state)
            if i % checkpoint_every == 0 and (
                converged is not None or i < max_iter
            ):
                stale, ckpt = ckpt, new.localCheckpoint(eager=True)
                new = ckpt
            done = converged is not None and converged(state, new)
            if stale is not None:
                release(stale)
                stale = None
            if not done or new is ckpt:
                state = new
            if done:
                break
        else:
            if converged is not None:
                raise RuntimeError(
                    f"{what} did not converge: no fixpoint within "
                    f"max_iter={max_iter}"
                )
        if finish is None and state is ckpt:
            ckpt = None  # the result: ownership passes to the caller
            return state
        return (state if finish is None else finish(state)).localCheckpoint(
            eager=True
        )
    finally:
        for df in (stale, ckpt):
            if df is not None:
                release(df)
