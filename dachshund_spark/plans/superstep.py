"""Superstep driver loop with lineage control, per-superstep checkpoints,
and metrics — the iterative backbone under PageRank / connected components /
label propagation / eigenvector centrality.

Spark has no native iterate-to-fixpoint, so iterative algorithms are driver
loops where every iteration appends to the logical plan.  Unchecked, plan
depth grows linearly, and at benchmark sizes the fixed cost of every
Spark job (~0.1 s) dominates a round.  ``iterate`` therefore runs exactly
ONE action per superstep:

* the step builds the next state LAZILY and names its convergence
  aggregates as Columns; the loop attaches them (plus a row count) with
  ``DataFrame.observe`` at the top of the plan,
* that plan's single action is either a durable parquet checkpoint write
  (resumable across driver restarts; the north-rule requirement) or an
  eager ``cut_lineage`` (fast, in-cluster) — the observed row (rows,
  delta, and whatever else the step asked for) comes back from the same
  job, so no round collects a separate aggregate,
* every round therefore ends lineage-free, and the superseded state is
  released at once,
* a checkpoint's metrics sidecar is written after its parquet commit
  (log-then-visible), so a resumed job knows exactly where it stopped
  and never resumes from a torn write.

The reference engine has no equivalent (single-process loops,
transformer_base.rs:38-91); this is engine-side machinery our Spark design
needs at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + STATISTICS RESET — the lineage cut every iterative
    loop in this engine must use.

    ``Dataset.localCheckpoint`` deliberately carries the checkpointed
    plan's computed statistics into the new LogicalRDD leaf.  For loops
    built from INNER joins that is a time bomb: Catalyst's size-only
    estimator multiplies children's sizeInBytes at every join, so the
    carried stats compound — round r's leaf estimate is a product of
    round r-1's, and the BigInt digit count grows geometrically (measured
    ~3x per round for the k-truss wedge join: 12 → 35 → 105 → ... digits;
    by round ~15 Catalyst spends MINUTES inside BigInteger.multiply in
    SizeInBytesOnlyStatsPlanVisitor.visitJoin).  Anti/semi-join loops
    survive (their estimate is the left child's), which is why only the
    inner-join loops hit it.

    The reset rebuilds the DataFrame from the checkpointed RDD via
    SparkSession.internalCreateDataFrame, whose LogicalRDD carries no
    inherited stats (leaves fall back to defaultSizeInBytes, keeping every
    later estimate bounded).  Falls back to the plain localCheckpoint if
    the internal API is unavailable."""
    cut = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = cut._jdf
        jrdd = jdf.queryExecution().toRdd()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
        # handle to the checkpointed RDD so release() can drop its storage
        # blocks deterministically (they otherwise live until the JVM
        # ContextCleaner happens to GC the reference — which accumulates
        # driver/executor heap across a long peel cascade)
        out._cut_rdd = jrdd
        return out
    except Exception:  # pragma: no cover - internal API moved/renamed
        return cut


def superstep_state_side(
    state: DataFrame, n_rows: int | None, threshold: int = 100_000
) -> DataFrame:
    """Join-strategy hint for the O(|V|)-row state side of a superstep
    join against a cached, pre-partitioned edge table.

    The lineage-cut state leaf carries no size statistics, so left to the
    static planner the join either broadcasts the EDGE table (when its
    known cached size is under the broadcast threshold — a serial
    |E|-row build every round) or falls to sort-merge.  The operator,
    unlike the optimizer, KNOWS the state's row count from its own
    per-round aggregate, so it picks deliberately (guide §3.1/§8):

    * ``n_rows < threshold``: broadcast the state — zero exchanges on
      either side, the cheapest possible round (this is also what AQE
      eventually discovers at runtime when nothing is hinted and the
      edge table is over-threshold, measured on the 3x fixture);
    * otherwise: ``shuffle_hash`` — only the state shuffles against the
      cached edges; no per-round broadcast build, no sort, and the only
      shape that scales to states too large to broadcast (pagerank's
      rank-vector discipline; its measured crossover, ~100k rows, is the
      default threshold).
    * ``n_rows`` unknown (first round): shuffle_hash, the safe side.
    """
    if n_rows is not None and n_rows < threshold:
        return state.hint("broadcast")
    return state.hint("shuffle_hash")


def release(df: DataFrame | None) -> None:
    """Free the storage behind an intermediate state DataFrame: the
    locally-checkpointed RDD blocks for a ``cut_lineage`` product, plus any
    regular persist() cache.  Only call on states that nothing downstream
    will read again — a released cut cannot be recomputed (local
    checkpoints discard lineage).

    Executor-loss caveat (real clusters): "nothing downstream reads it"
    must hold through RECOMPUTE paths, not just the happy path.  If a
    successor state is merely persist()ed, its cached blocks still
    lineage-depend on this cut; losing one of those blocks after the
    release makes the successor unrecomputable ("Checkpoint block not
    found" job failure).  The loop invariant every caller follows: a
    successor must itself be a ``cut_lineage`` product, materialized
    before its predecessor is released — then the only loss that matters
    is of the successor's own checkpoint blocks, which is the inherent
    localCheckpoint durability trade (use a CheckpointManager for
    durable-resume jobs)."""
    if df is None:
        return
    jrdd = getattr(df, "_cut_rdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:  # pragma: no cover - JVM already torn down
            pass
    try:
        df.unpersist()
    except Exception:  # pragma: no cover
        pass
    # a producer may hand over predecessors whose blocks its OWN lineage
    # still needed (deferred-release window, e.g. a persist-only state
    # returned mid-window): once the caller releases the product, the
    # window is unreachable too
    for dep in getattr(df, "_deferred", ()):  # pragma: no branch
        release(dep)


@dataclass
class SuperstepMetrics:
    superstep: int
    rows: int
    delta: float
    seconds: float
    partitions: int

    def to_json(self) -> str:
        return json.dumps(self.__dict__)


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[SuperstepMetrics] = field(default_factory=list)
    # the last round's observed row (rows, delta and the step's extras)
    observed: dict | None = None


class CheckpointManager:
    """Durable parquet checkpoints for vertex-state DataFrames.

    Layout: ``<root>/<name>/step=<k>/`` (parquet) plus
    ``<root>/<name>/step=<k>.metrics.json``.  A checkpoint is only
    considered complete when the metrics sidecar exists.  ``write`` drops
    any stale sidecar before the parquet write and ``commit`` writes the
    sidecar only after the parquet commit (log-then-visible), so a killed
    job can never resume from a torn write.
    """

    def __init__(self, root: str, name: str, fingerprint: str | None = None):
        """``fingerprint`` identifies the input + parameters of the job
        (any stable string, e.g. json of input path/tol/damping/block
        size).  It is stored next to every checkpoint; ``load_latest``
        refuses to resume from state written under a different
        fingerprint — preventing a silent resume of stale state when a
        job is re-run with changed inputs or parameters."""
        self.dir = os.path.join(root, name)
        self.fingerprint = fingerprint
        os.makedirs(self.dir, exist_ok=True)

    def _step_path(self, step: int) -> str:
        return os.path.join(self.dir, f"step={step}")

    def write(self, df: DataFrame, step: int) -> str:
        """Write ``df`` as step ``step``'s parquet (one Spark action) and
        return its path.  The step stays invisible to ``latest`` until
        ``commit``."""
        path = self._step_path(step)
        if os.path.exists(path + ".metrics.json"):
            os.remove(path + ".metrics.json")
        df.write.mode("overwrite").parquet(path)
        return path

    def commit(self, metrics: SuperstepMetrics) -> None:
        """Publish a written step: its metrics sidecar (with the
        fingerprint), renamed into place so it is never seen half
        written."""
        path = self._step_path(metrics.superstep)
        payload = json.loads(metrics.to_json())
        if self.fingerprint is not None:
            payload["fingerprint"] = self.fingerprint
        with open(path + ".metrics.json.tmp", "w") as f:
            f.write(json.dumps(payload))
        os.replace(path + ".metrics.json.tmp", path + ".metrics.json")

    def save(self, df: DataFrame, metrics: SuperstepMetrics) -> DataFrame:
        """``write`` + ``commit`` for a caller whose metrics are known
        before the write; returns the reread checkpoint."""
        path = self.write(df, metrics.superstep)
        self.commit(metrics)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def latest(self) -> tuple[int, str] | None:
        steps = []
        for entry in os.listdir(self.dir):
            if entry.startswith("step=") and entry.endswith(".metrics.json"):
                steps.append(int(entry[len("step="):-len(".metrics.json")]))
        if not steps:
            return None
        k = max(steps)
        return k, self._step_path(k)

    def load_latest(self, spark) -> tuple[int, DataFrame] | None:
        found = self.latest()
        if found is None:
            return None
        k, path = found
        if self.fingerprint is not None:
            with open(path + ".metrics.json") as f:
                saved = json.load(f).get("fingerprint")
            if saved is not None and saved != self.fingerprint:
                raise ValueError(
                    f"checkpoint {path} was written for a different "
                    f"input/parameter fingerprint ({saved!r} != "
                    f"{self.fingerprint!r}); clear() it or use a new job name"
                )
        return k, spark.read.parquet(path)

    def clear(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)


def iterate(
    state: DataFrame,
    step: Callable[
        [DataFrame, int, dict | None], tuple[DataFrame, dict[str, Column]]
    ],
    max_iter: int,
    tol: float = 0.0,
    checkpoint_every: int = 3,
    checkpointer: CheckpointManager | None = None,
    start_iteration: int = 0,
) -> SuperstepResult:
    """Run ``step(state, i, observed) -> (next_state, aggregates)`` until
    the observed ``delta <= tol`` or ``max_iter``.

    ``next_state`` is LAZY.  ``aggregates`` maps names to aggregate
    Columns over it and must include ``"delta"``, the algorithm's
    convergence measure (L1 score change, #changed labels...); the loop
    adds ``"rows"``.  ``observed`` is the previous round's evaluated row
    of those aggregates as a dict (None on the first round of this
    call), so a step can carry scalars such as PageRank's dangling mass
    or a frontier size into its next plan without a job of its own.

    One Spark action per round: the loop attaches the aggregates with
    ``DataFrame.observe`` at the TOP of ``next_state``'s plan and runs
    either the durable checkpoint write (``checkpointer`` set and
    ``i % checkpoint_every == 0`` or round ``max_iter``) or an eager
    ``cut_lineage``.  A round that converges off that schedule is not
    made durable: its delta is known only once its action has run.  The
    checkpoint is reread with its known schema (no inference job, no
    cache), and its sidecar is committed after the parquet.  Either way
    every round ends lineage-free and the superseded state is released
    at once.

    Exactly-once condition: Spark applies observed metrics exactly once
    only when the CollectMetrics node runs in the RESULT stage; in a
    shuffle-map stage, a retried or reused stage counts again.  So no
    Exchange may sit above the observe node.  Both actions here (a plain
    parquet write, a local checkpoint) add none; a partitioned or
    bucketed checkpoint write, or a repartition before the cut, would.

    The returned state is a lineage-free leaf (a released-on-demand
    local checkpoint or a parquet reread); the caller's initial state is
    never released.
    """
    if start_iteration > 0 and start_iteration >= max_iter:
        # a resumed checkpoint already at/past the iteration bound would
        # skip the loop body entirely and die later with a misleading
        # "did not converge" — refuse up front with the actual cause
        raise ValueError(
            f"checkpoint resumes at iteration {start_iteration}, already "
            f"past max_iter={max_iter}; rerun with a larger --max-iter "
            "(or clear the checkpoint dir to restart from scratch)"
        )
    initial = state
    metrics: list[SuperstepMetrics] = []
    observed: dict | None = None
    converged = False
    i = start_iteration
    while i < max_iter:
        t0 = time.time()
        nxt, aggregates = step(state, i, observed)
        obs = Observation()
        nxt = nxt.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *(col.alias(name) for name, col in aggregates.items()),
        )
        i += 1
        durable = checkpointer is not None and (
            i % checkpoint_every == 0 or i == max_iter
        )
        if durable:
            path = checkpointer.write(nxt, i)
            nxt = nxt.sparkSession.read.schema(nxt.schema).parquet(path)
        else:
            nxt = cut_lineage(nxt)
        observed = obs.get
        m = SuperstepMetrics(
            superstep=i,
            rows=int(observed["rows"]),
            delta=float(observed["delta"] or 0.0),
            seconds=round(time.time() - t0, 4),
            partitions=nxt.rdd.getNumPartitions(),
        )
        if durable:
            checkpointer.commit(m)
        metrics.append(m)
        if state is not initial:
            release(state)
        state = nxt
        if m.delta <= tol:
            converged = True
            break
    return SuperstepResult(
        state=state,
        iterations=i,
        converged=converged,
        metrics=metrics,
        observed=observed,
    )
