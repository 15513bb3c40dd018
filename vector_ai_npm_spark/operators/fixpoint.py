"""Fixpoint loops for the iterative graph operators.

Three loop shapes cover the graph suite's data-dependent iterations:

* :func:`peel` — rounds that only REMOVE rows (k-core, k-truss).
* :func:`expand` — synchronous frontier BFS with hop distances
  (distance-to-hub, sampled harmonic centrality).
* :func:`min_labels` — neighbour-min label propagation with pointer
  jumping (connected components, the SCC forward colouring).

Each shape owns its convergence witness and the proof that stopping
early returns exactly what the full unroll would, so a registry face can
declare a fixed round count (the one its DuckDB oracle unrolls) and
still skip every round past the fixpoint — progressive peeling with
early termination.

Every round's result is ``localCheckpoint``-ed: an iterate's plan
references the previous round's frame several times, so without the
cut the plan tree grows geometrically per round and the driver runs out
of heap during analysis.  Where the witness is an action over the
round's frame, the checkpoint is lazy (``eager=False``) and the witness
action is what materializes it: a row count costs no job beyond the
checkpoint's own, a label sum one small aggregate stage.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def materialize_count(df: DataFrame) -> int:
    """Materialize a lazily localCheckpoint-ed frame and return its row
    count in ONE job with no fresh Catalyst pass: count the INTERNAL
    row RDD directly — exactly what an eager localCheckpoint does under
    the hood — instead of planning a new count() aggregate per call
    (~50 ms of driver planning per round on the iterative faces).
    Falls back to DataFrame.count() if the internal handle is
    unavailable."""
    try:
        return int(df._jdf.queryExecution().toRdd().count())
    except Exception:
        return int(df.count())


def peel(frame: DataFrame, step: Callable[[DataFrame], DataFrame],
         max_rounds: int) -> DataFrame:
    """Apply ``step`` up to ``max_rounds`` times; stop at the fixpoint.

    ``step`` must only remove rows: applied to one of its own outputs,
    it returns a subset of that output.  Witness: the row count.  An
    unchanged count between two rounds therefore proves an unchanged
    frame, so every remaining round is the identity and the early stop
    is bit-identical to the full unroll.  The caller's input is never
    counted (the first round may also normalize it, e.g. canonicalize
    edge orientation), so an input already at its fixpoint costs one
    extra round, never a wrong answer."""
    n_prev = None
    for _ in range(max_rounds):
        frame = step(frame).localCheckpoint(eager=False)
        n = materialize_count(frame)
        if n == n_prev:
            break
        n_prev = n
    return frame


def expand(edges: DataFrame, reached: DataFrame, max_rounds: int,
           key: Sequence[str] = ()) -> DataFrame:
    """Synchronous frontier BFS over ``edges`` (node, nbr).

    ``reached`` holds the sources at hop 0 as (*key, node, dist) rows;
    ``key`` columns run independent searches side by side (one per
    source, say).  Round r joins the last frontier to its neighbours and
    keeps the nodes not reached before, at dist r.  Returns every
    (*key, node, dist) reached within ``max_rounds`` hops.

    Witness: the new frontier's row count.  An EMPTY frontier has no
    neighbours, so every remaining round adds nothing and the early
    stop is bit-identical to the full unroll."""
    cols = [*key, "node"]
    dist = reached.localCheckpoint(eager=True)
    frontier = dist.select(*cols)
    for r in range(1, max_rounds + 1):
        newly = (
            frontier.join(edges, "node")
            .select(*key, F.col("nbr").alias("node"))
            .distinct()
            .join(dist, cols, "left_anti")
            .localCheckpoint(eager=False)
        )
        if materialize_count(newly) == 0:
            break
        dist = dist.unionByName(
            newly.select(*cols, F.lit(r).alias("dist"))
        ).localCheckpoint(eager=True)
        frontier = newly
    return dist


def require_integral(frame: DataFrame, *columns: str) -> None:
    """Raise TypeError unless every named column has an integral type —
    checked on the schema, so no job runs."""
    for c in columns:
        t = frame.schema[c].dataType
        if not isinstance(t, IntegralType):
            raise TypeError(
                f"column {c!r} must be an integral id type, got "
                f"{t.simpleString()}: label propagation compares and sums "
                "ids as integers"
            )


def min_labels(edges: DataFrame, labels: DataFrame,
               max_rounds: int) -> DataFrame:
    """Propagate minimum labels along ``edges`` (src, dst) to fixpoint.

    ``labels`` is (node, label) with integral labels that are themselves
    node ids.  Each round every src takes the min of its own label and
    its dsts' labels, then jumps its label to its label's label — labels
    name vertices, so the jump doubles the propagation distance per
    round and a chain converges in O(log n) rounds, not O(n).  Returns
    (node, label); raises RuntimeError if ``max_rounds`` rounds do not
    reach the fixpoint, and TypeError before any job if a label or an
    edge endpoint is not integral.

    Witness: the exact label sum (decimal(38,0), exact at any id
    magnitude).  Labels only ever decrease over a fixed vertex set
    (every update is a least() against the previous value), so an
    unchanged sum proves no label changed and every later round is the
    identity.  The first round is never compared, so the loop also ends
    on an empty vertex set (NULL sum twice)."""
    require_integral(labels, "label")
    require_integral(edges, "src", "dst")
    prev_sum: object = object()
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels.node == nbr.src, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_min", F.col("label"))
            ).alias("label"),
        )
        hop = stepped.select(
            F.col("node").alias("hop_node"), F.col("label").alias("hop_label")
        )
        labels = (
            stepped.join(hop, stepped.label == hop.hop_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("hop_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        lsum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if lsum == prev_sum:
            return labels
        prev_sum = lsum
    raise RuntimeError(
        f"min-label propagation did not converge in {max_rounds} rounds "
        "— raise the round cap"
    )
