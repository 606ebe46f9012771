"""Community detection via synchronous label propagation (north_rule
"community label propagation").

The reference's community op is CNM greedy modularity
(cnm_communities.rs) — an inherently sequential heap algorithm we port
per-graph in ``operators.pergraph``.  At web scale the standard
distributed substitute is most-frequent-neighbor label propagation with a
deterministic tie-break (max count, then min label — fully order-free, so
results are reproducible across cluster sizes).  Oracle:
``kernels.label_propagation``.

Skew note: the per-(vertex, label) count is a two-key aggregation, which
already spreads a hub's edges over (label) subkeys; the final per-vertex
argmax uses ``max_by`` on the (count, -label) pair — an algebraic
aggregate with map-side partial support, no windowing shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import CheckpointManager, iterate, superstep_state_side
from .builders import symmetrized, vertices


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    checkpointer: CheckpointManager | None = None,
    include_metrics: bool = False,
):
    """Returns DataFrame[v: long, label: long]."""
    adj = symmetrized(edges).repartition("src").persist()
    state0 = vertices(edges).select(
        "v", F.col("v").alias("label"), F.lit(False).alias("_chg")
    )

    def step(state: DataFrame, i: int, observed: dict | None):
        # after round 1 the state is a lineage-free leaf (a stats-free cut
        # or a parquet reread): pick its side of the adjacency join from
        # the observed row count
        src = superstep_state_side(
            state.select("v", "label"),
            None if observed is None else observed["rows"],
        )
        msgs = adj.join(src, adj.src == src.v).select(
            F.col("dst").alias("v"), "label"
        )
        counts = msgs.groupBy("v", "label").agg(F.count("*").alias("cnt"))
        # deterministic argmax: max count, then min label
        new_labels = counts.groupBy("v").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
            ).alias("label")
        )
        prev = state.select("v", F.col("label").alias("old_label"))
        label = F.coalesce(F.col("label"), F.col("old_label"))
        new_state = prev.join(new_labels, "v", "left").select(
            "v", label.alias("label"), (label != F.col("old_label")).alias("_chg")
        )
        return new_state, {"delta": F.sum(F.col("_chg").cast("long"))}

    result = iterate(
        state0, step, max_iter=max_iter, tol=0.0, checkpointer=checkpointer
    )
    out = result.state.select("v", "label")
    adj.unpersist()
    if include_metrics:
        return out, result
    return out
