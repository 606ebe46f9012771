"""The one-action superstep contract: the statistics ``iterate`` observes
on each round's own action are exact, a torn checkpoint write is never
resumed, and the per-operator Spark job count stays pinned."""

import json
import os

import pytest

from dachshund_spark.functions import kernels as K
from dachshund_spark.operators import builders as B
from dachshund_spark.operators.components import connected_components
from dachshund_spark.operators.pagerank import pagerank
from dachshund_spark.plans.superstep import CheckpointManager
from tests.fixtures import KARATE_CLUB_EDGES

DIRECTED_KARATE = KARATE_CLUB_EDGES + [(v, u) for u, v in KARATE_CLUB_EDGES]
# 1 -> 2 -> 3 plus 4 -> 2: vertex 3 dangles
DANGLING = [(1, 2), (2, 3), (4, 2)]
# Spark jobs of pagerank (tol 0, 5 supersteps) and connected_components
# on karate, local[4] with 4 shuffle partitions, measured when every
# round became one action; the loop before that ran 68 and 38
PAGERANK_JOBS = 22
CC_JOBS = 18


def _numpy_iterates(edges, k):
    """[x_0, ..., x_k] of the dense oracle (x_0 uniform)."""
    return [K.pagerank_numpy(edges, tol=0.0, max_iter=j) for j in range(k + 1)]


@pytest.mark.parametrize("edges", [DIRECTED_KARATE, DANGLING])
def test_pagerank_observed_delta_is_exact_l1(spark, edges):
    rounds = 6
    out, res = pagerank(
        B.edges_df(spark, edges), tol=0.0, max_iter=rounds,
        include_metrics=True,
    )
    xs = _numpy_iterates(edges, rounds)
    n = len(xs[0])
    assert res.iterations == rounds
    assert [m.superstep for m in res.metrics] == list(range(1, rounds + 1))
    for m, prev, cur in zip(res.metrics, xs, xs[1:]):
        assert m.rows == n
        assert abs(m.delta - sum(abs(cur[v] - prev[v]) for v in cur)) <= 1e-9
    got = {r["v"]: r["pagerank"] for r in out.collect()}
    assert all(abs(got[v] - xs[-1][v]) <= 1e-9 for v in got)


def test_cc_observed_statistics(spark):
    n = 12
    path = [(i, i + 1) for i in range(1, n)]
    cases = [
        # parent loop's measured count on karate
        (KARATE_CLUB_EDGES, 34, 4),
        # hash-min moves min id 1 one hop per round: n-1 changing rounds
        # and a final round with no change
        (path, n, n),
    ]
    for edges, n_verts, want_rounds in cases:
        out, res = connected_components(
            B.edges_df(spark, edges), include_metrics=True
        )
        assert res.converged
        assert res.iterations == want_rounds
        assert res.metrics[-1].delta == 0
        assert all(m.rows == n_verts for m in res.metrics)
        assert {r["component"] for r in out.collect()} == {1}


def test_killed_checkpoint_write_is_not_resumed(spark, tmp_path):
    e = B.edges_df(spark, DIRECTED_KARATE)
    want = {r["v"]: r["pagerank"] for r in pagerank(e, tol=0.0, max_iter=8).collect()}

    cp = CheckpointManager(str(tmp_path), "pr", fingerprint="karate")
    pagerank(e, tol=0.0, max_iter=4, checkpointer=cp)
    step, path = cp.latest()
    assert step == 4
    meta = json.loads(open(path + ".metrics.json").read())
    assert meta["fingerprint"] == "karate"
    assert meta["partitions"] > 0 and meta["rows"] == 34
    # a write killed between the parquet commit and the sidecar: a
    # step=5 directory with a torn part file and no sidecar
    torn = os.path.join(cp.dir, "step=5")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    assert cp.latest()[0] == 4

    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(e, tol=0.0, max_iter=8, checkpointer=cp).collect()
    }
    assert cp.latest()[0] == 8
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) <= 1e-12 for v in want)


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_superstep_job_budget(spark):
    """A per-round count()/collect() added back to either loop fails
    this."""
    directed = B.edges_df(spark, DIRECTED_KARATE).persist()
    undirected = B.edges_df(spark, KARATE_CLUB_EDGES).persist()
    directed.count()
    undirected.count()
    pr_jobs = _jobs_in_group(
        spark, "budget_pagerank",
        lambda: pagerank(directed, tol=0.0, max_iter=5).collect(),
    )
    cc_jobs = _jobs_in_group(
        spark, "budget_cc", lambda: connected_components(undirected).collect()
    )
    directed.unpersist()
    undirected.unpersist()
    assert pr_jobs <= PAGERANK_JOBS, pr_jobs
    assert cc_jobs <= CC_JOBS, cc_jobs

