"""PageRank as damped power-iteration supersteps (north_rule op).

Template = the reference's eigenvector power iteration
(eigenvector_centrality.rs:21-42) with damping, per-edge 1/out_degree
weights, dangling-mass redistribution, and L1 convergence (Σ|Δ| < tol).
Oracle: ``kernels.pagerank_numpy`` (allclose 1e-6 at convergence).

Physical design:
* ONE Spark action per superstep, and no collect at all.  The state
  carries a ``dangling`` flag, and the step hands ``plans.superstep
  .iterate`` two aggregates — the L1 delta and the next dangling mass —
  which the loop observes on the superstep's own checkpoint write (or
  lineage cut) and feeds back into the next step's plan as a literal.
  Setup is one aggregate over the cached ``static`` table (n, dangling
  count).  At benchmark sizes fixed per-job overhead is what a round
  costs, so this is the dominant term.
* The ``links`` table (edge + precomputed 1/out_degree weight) is
  repartitioned on ``src`` and persisted once; ``static`` (v, dangling
  [, p]) on ``v``.  Each superstep has ONE state exchange: the previous
  state's own (v, 0, rank0) rows are unioned into the contribution
  aggregate grouped by ``v``, whose output joins ``static``
  co-partitioned — the state is never joined back in.  The rank side of
  the ``links`` join is chosen by ``superstep_state_side`` from the
  known vertex count.
* Two aggregation strategies, selectable per call:
  - ``impl="sql"``: ``links ⋈ ranks → groupBy(dst).sum`` — Catalyst gives
    map-side partial aggregation; AQE splits skewed reducers.
  - ``impl="csr"``: per-partition CSR-block gather-scatter (north_star) —
    after the ranks join, an Arrow-batched ``mapInPandas`` factorizes each
    partition's dst column into a dense local id space (numpy) and
    ``np.bincount``-combines rank*weight locally, emitting one partial row
    per *distinct* dst per partition instead of one per edge: an explicit
    pre-shuffle combine that cuts shuffle volume on high-fanout partitions
    beyond what hash-aggregate buffers cover.
  Both return identical values (tested against each other and the numpy
  oracle).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.superstep import CheckpointManager, iterate, superstep_state_side


def _csr_partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition gather-scatter: combine contributions by dst with
    numpy before the shuffle.  Receives (dst, contrib) rows; emits one
    (dst, partial) row per distinct dst in the partition."""
    import numpy as np

    parts: list[pd.DataFrame] = []
    for pdf in batches:
        if pdf.empty:
            continue
        codes, uniques = pd.factorize(pdf["dst"].to_numpy())
        sums = np.bincount(codes, weights=pdf["contrib"].to_numpy())
        parts.append(pd.DataFrame({"dst": uniques, "partial": sums}))
    if parts:
        out = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if len(parts) > 1:
            # cross-batch combine stays columnar (hash groupby over the
            # per-batch distinct dsts) instead of a per-element dict loop
            out = out.groupby("dst", sort=False, as_index=False)["partial"].sum()
        yield out


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    impl: str = "sql",
    checkpointer: CheckpointManager | None = None,
    include_metrics: bool = False,
    join_strategy: str = "auto",
    checkpoint_every: int = 1,
    block_size: int = 1,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
):
    """Directed PageRank over DataFrame[src, dst]; returns
    DataFrame[v: long, pagerank: double] summing to 1.

    Multi-edges contribute multiply (weights are per-edge, as in a raw
    link table); pre-deduplicate upstream if simple-graph semantics are
    wanted.

    ``teleport``: optional DataFrame[v] of seed vertices for PERSONALIZED
    PageRank (Page et al. 1999 §6; Haveliwala, topic-sensitive PageRank,
    WWW'02 — public literature; no reference counterpart).  The teleport
    vector becomes p(v) = 1/|seeds| on seeds, 0 elsewhere: ranks start at
    p, the (1-d) restart and the dangling redistribution both flow to p
    instead of uniform 1/n.  Plan shape is unchanged — p rides in the
    cached ``static`` table the per-superstep join already touches,
    so personalization costs zero extra shuffles per superstep.

    ``weight_col``: optional edge-weight column for WEIGHTED PageRank —
    each edge carries weight/Σ(out-weights of src) instead of
    1/out_degree (the host-rank composite rolls the page graph up to
    hosts and ranks them by link volume this way).  Only the ``links``
    precompute changes; the superstep plan is identical.

    ``block_size`` chains that many supersteps lazily into ONE Spark
    action and checks convergence once per block on the L1 distance
    across the whole block — a conservative criterion, since per-step
    deltas shrink monotonically.  Iterate values are bit-identical to
    block_size=1; the only trade is convergence-check granularity
    against per-superstep fixed job cost.  Graphs with dangling
    vertices run one superstep per block (the dangling mass of a lazy
    sub-iteration would read its predecessor twice).
    """
    # links (src, dst, w): each edge with its 1/out_degree (or weight /
    # Σ out-weights) factor, hash-partitioned on src and cached; the
    # out-degree is a window over those same src partitions, so building
    # links costs one exchange
    out_w = F.lit(1.0) if weight_col is None else F.col(weight_col)
    links = (
        edges.repartition("src")
        .select(
            "src",
            "dst",
            (out_w / F.sum(out_w).over(Window.partitionBy("src"))).alias("w"),
        )
        .persist()
    )

    # static per-vertex attributes (v, dangling[, p]), cached once and
    # hash-partitioned on v by their own aggregate (a cached plan keeps
    # its output partitioning) — the anchor every superstep's mass
    # aggregate joins without re-exchanging, and the one that keeps a
    # chained block LINEAR (each lazy sub-iteration references the
    # previous one once)
    static = (
        links.select(F.col("src").alias("v"), F.lit(False).alias("dangling"))
        .union(edges.select(F.col("dst").alias("v"), F.lit(True).alias("dangling")))
        .groupBy("v")
        .agg(F.min("dangling").alias("dangling"))
    )
    personalized = teleport is not None
    if personalized:
        seeds = teleport.select("v").distinct()
        ns = seeds.count()
        if ns == 0:
            raise ValueError("personalized pagerank: teleport set is empty")
        static = static.join(seeds.withColumn("s", F.lit(1)), "v", "left").select(
            "v",
            "dangling",
            F.when(F.col("s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
    static = static.persist()
    # the one setup action: n, the dangling count, and the starting
    # dangling mass of a personalized run (it also materializes static)
    n, n_dangling, dangling_p = static.agg(
        F.count("*"),
        F.count_if("dangling"),
        F.sum(F.when(F.col("dangling"), F.col("p") if personalized else 0.0)),
    ).first()

    # state: (v, rank, delta, dangling); the dangling flag makes the next
    # superstep's dangling mass one of this superstep's observed aggregates
    start_iteration = 0
    state0 = None
    if checkpointer is not None:
        found = checkpointer.load_latest(edges.sparkSession)
        if found is not None:
            start_iteration, state0 = found
            dangling_mass0 = state0.agg(
                F.sum(F.when(F.col("dangling"), F.col("rank")))
            ).first()[0] or 0.0
    if state0 is None:
        state0 = static.select(
            "v",
            (F.col("p") if personalized else F.lit(1.0 / n)).alias("rank"),
            F.lit(1.0).alias("delta"),
            "dangling",
        )
        dangling_mass0 = (dangling_p or 0.0) if personalized else n_dangling / n

    def _one_superstep(cur: DataFrame, start: DataFrame, dangling_mass: float):
        """One lazy superstep: cur(v, rank) -> (v, rank, rank0, dangling),
        with rank0 the block-start rank.  ONE state exchange: the block
        start's own (v, 0, rank0) rows are unioned into the contribution
        aggregate, grouped by v, whose output joins the cached static
        table co-partitioned — the previous lazy state is referenced
        exactly once, via its contributions."""
        ranks = cur.select("v", "rank")
        if join_strategy == "shuffle_hash":
            ranks = ranks.hint("shuffle_hash")
        else:
            ranks = superstep_state_side(ranks, n)
        contribs = links.join(ranks, links.src == ranks.v).select(
            "dst", (F.col("rank") * F.col("w")).alias("contrib")
        )
        if impl == "csr":
            contribs = contribs.mapInPandas(
                _csr_partial_sums, "dst long, partial double"
            ).withColumnRenamed("partial", "contrib")
        msgs = contribs.select(
            F.col("dst").alias("v"),
            "contrib",
            F.lit(None).cast("double").alias("rank0"),
        )
        own = start.select(
            "v", F.lit(0.0).alias("contrib"), F.col("rank").alias("rank0")
        )
        sums = (
            msgs.unionByName(own)
            .groupBy("v")
            .agg(F.sum("contrib").alias("mass"), F.max("rank0").alias("rank0"))
        )
        dm = F.lit(dangling_mass)
        if not personalized:
            base = F.lit((1.0 - damping) / n) + F.lit(damping / n) * dm
        else:
            # restart and dangling mass both flow to the teleport vector
            base = (
                F.lit(1.0 - damping) * F.col("p")
                + F.lit(damping) * dm * F.col("p")
            )
        # (hinted: AQE would broadcast the small cached static table
        # instead — one more job per superstep)
        return static.join(sums.hint("shuffle_hash"), "v").select(
            "v",
            (base + F.lit(damping) * F.col("mass")).alias("rank"),
            "rank0",
            "dangling",
        )

    # with dangling vertices the per-step mass depends on the previous
    # state twice (contributions + dangling sum), which cannot be chained
    # lazily without recomputation; fall back to one action per superstep
    effective_block = block_size if not n_dangling else 1

    def step(state: DataFrame, i: int, observed: dict | None):
        dangling_mass = (
            dangling_mass0 if observed is None else observed["dmass"] or 0.0
        )
        cur = state
        for _ in range(effective_block):
            # (a block > 1 has no dangling vertex: its mass stays 0)
            cur = _one_superstep(cur, state, dangling_mass)
        new_state = cur.select(
            "v",
            "rank",
            F.abs(F.col("rank") - F.col("rank0")).alias("delta"),
            "dangling",
        )
        return new_state, {
            "delta": F.sum("delta"),
            "dmass": F.sum(F.when(F.col("dangling"), F.col("rank"))),
        }

    result = iterate(
        state0,
        step,
        max_iter=math.ceil(max_iter / effective_block),
        tol=tol,
        checkpointer=checkpointer,
        start_iteration=start_iteration,
        checkpoint_every=checkpoint_every,
    )
    out = result.state.select("v", F.col("rank").alias("pagerank"))
    links.unpersist()
    static.unpersist()
    if include_metrics:
        return out, result
    return out
