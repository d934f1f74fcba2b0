"""Shared driver loop for iterative min-label propagation
(connected components over doc near-dup graphs, bipartite account
clustering — any algorithm of the shape "labels shrink monotonically
until a fixed point").

One implementation of the subtle parts so they cannot drift between
callers:

- **Lineage control**: every round eagerly ``localCheckpoint``s, so
  plans stay leaf-rooted instead of growing one join per round (the
  classic iterative-DataFrame driver OOM during plan
  rendering/optimization).
- **Block hygiene**: a local checkpoint is non-recomputable cached
  state invisible to ``spark.catalog.clearCache``; each round's
  snapshot is unpersisted as soon as the next round has materialized,
  and the FINAL snapshot is handed to the session cache tracker
  (``caching.release_caches``) because the returned plan reads from
  it.
- **Convergence contract**: reaching ``max_iter`` with changes still
  flowing RAISES instead of silently returning labels that violate
  the "label = component minimum" contract (a >max_iter-diameter
  component would otherwise split undetected).

The driver holds one converged? flag per round — never label data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_logs_spark.caching import track_checkpoint_rdd, tracked_cache


def _checkpoint_rdd(ck: DataFrame):
    """The JVM RDD holding an eager localCheckpoint's blocks."""
    return ck._jdf.queryExecution().analyzed().rdd()


def propagate_min_labels(
    labels: DataFrame,
    neighbor_min: Callable[[DataFrame], DataFrame],
    key: str,
    label: str,
    max_iter: int,
) -> DataFrame:
    """Run min-label propagation to a fixed point.

    ``labels``: (key, label) — the initial assignment (label = key,
    or an already propagated round such as ``pair_components``' seed).
    ``neighbor_min(labels)``: one propagation step — returns
    (key, nbr_min) with each key's minimum label over its neighbors;
    the graph shape (direct pair list, bipartite two-hop, ...) lives
    entirely in this callback. Keys with no neighbors may be absent.

    Returns the converged (key, label) DataFrame (reading from the
    final tracked checkpoint). ``max_iter`` bounds the number of
    LABEL-CHANGING rounds (size it to the worst-case component
    diameter); convergence is only observable one round after the
    last change, so one extra verification round runs beyond the
    budget before ``RuntimeError`` is raised — a component whose
    diameter exactly equals ``max_iter`` converges, it does not fail
    spuriously.
    """
    current = labels.localCheckpoint(eager=True)
    prev_snapshot = _checkpoint_rdd(current)
    for _ in range(max_iter + 1):
        nbr = neighbor_min(current)
        updated = (
            current.join(nbr, key, "left")
            .select(
                key,
                F.least(
                    F.col(label),
                    F.coalesce(F.col("nbr_min"), F.col(label)),
                ).alias(label),
                (F.col("nbr_min") < F.col(label)).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        new_snapshot = _checkpoint_rdd(updated)
        # convergence probe, not a tally: isEmpty() short-circuits on
        # the first changed row (non-converged rounds — the common
        # case — touch one cached partition instead of scanning every
        # checkpoint block the way the old count() did; only the
        # final, converged round pays the full scan)
        converged = updated.filter(F.col("changed")).isEmpty()
        current = updated.select(key, label)
        prev_snapshot.unpersist(False)
        prev_snapshot = new_snapshot
        if converged:
            track_checkpoint_rdd(prev_snapshot)
            return current
    prev_snapshot.unpersist(False)
    raise RuntimeError(
        f"min-label propagation did not converge in {max_iter} rounds "
        "after the initial labels (component diameter exceeds the "
        "iteration budget; raise max_iter)"
    )


def pair_components(
    pairs: DataFrame, key: str, label: str, max_iter: int
) -> DataFrame:
    """Connected components of the undirected graph whose edges are
    the rows of ``pairs`` (two node columns): (key, label) for every
    node in some pair, label = the minimum node of its component.

    The symmetric edge list is one ``inline`` of (a, b), (b, a) per
    pair and the only cached relation. The first propagation round is
    seeded straight from it: a node's round-1 label is
    ``least(node, min(neighbour))``, one aggregation that needs no
    label relation to join against. The loop then starts from that
    seed with ``max_iter - 1`` rounds, so ``max_iter`` still bounds
    the label-changing rounds and one ``localCheckpoint`` + ``isEmpty``
    round fewer runs.
    """
    a, b = pairs.columns
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        )
    ).transform(tracked_cache)
    seed = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias(label))
        .withColumnRenamed("src", key)
    )

    def neighbor_min(cur: DataFrame) -> DataFrame:
        return (
            edges.join(
                cur.select(
                    F.col(key).alias("dst"), F.col(label).alias("nbr_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias(key))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )

    return propagate_min_labels(seed, neighbor_min, key, label, max_iter - 1)
