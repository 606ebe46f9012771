"""Capture the executed plan of one superstep round of PageRank and of
connected components, as ``plans.superstep.iterate`` runs it, and check
its shape.

Each round is one Spark action.  The tool runs both operators on a
seeded synthetic graph with the Spark UI on, reads the executed SQL plans
(text and node graph) from the UI REST API on localhost, picks the
second round of each loop (the first also materializes the cached edge
tables), and writes it to ``plans/r08/<op>_round.txt`` under a header
that states:

* the shuffle Exchanges and BroadcastExchanges the round executes
  (those under an InMemoryTableScan belong to a cached table's build
  and are not counted),
* the nodes above CollectMetrics — the observe node must have no
  Exchange above it, or its metrics could be applied more than once.

Usage: python tools/capture_round_plans.py [n_vertices] [out_dir]
Exit status 1 if a round has an Exchange above CollectMetrics.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

UI_PORT = 4058


def _rest(app_id: str, path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def summarize(execution: dict) -> dict:
    """Shape of one executed SQL plan, from the REST API's plan graph
    (edges run child -> parent).  Nodes under an InMemoryTableScan build
    a cached table and are not counted."""
    name = {x["nodeId"]: x["nodeName"] for x in execution["nodes"]}
    parent = {e["fromId"]: e["toId"] for e in execution["edges"]}

    def ancestors(node: int) -> list[str]:
        out = []
        while node in parent:
            node = parent[node]
            out.append(name[node])
        return out[::-1]

    live = [
        (name[i], ancestors(i)) for i in name
        if "InMemoryTableScan" not in ancestors(i)
    ]
    observe = next(anc for n, anc in live if n == "CollectMetrics")
    return {
        "shuffle_exchanges": sum(1 for n, _ in live if n == "Exchange"),
        "broadcast_exchanges": sum(1 for n, _ in live if n == "BroadcastExchange"),
        "above_collect_metrics": observe,
        "exchange_above_collect_metrics": any("Exchange" in a for a in observe),
    }


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from dachshund_spark.operators.components import connected_components
    from dachshund_spark.operators.pagerank import pagerank
    from dachshund_spark.plans.superstep import CheckpointManager
    from dachshund_spark.session import get_spark

    spark = get_spark(
        app_name="capture_round_plans", master="local[2]", shuffle_partitions=4,
        extra={"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT),
               "spark.sql.ui.retainedExecutions": "1000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    # 4 out-links per vertex to xxhash64-drawn targets: a giant component
    # for cc, and a few vertices without in-links
    edges = (
        spark.range(4 * n)
        .select(
            (F.col("id") % n).alias("src"),
            F.pmod(F.xxhash64("id"), F.lit(n)).alias("dst"),
        )
        .filter("src != dst")
        .persist()
    )
    edges.count()

    def rounds(run) -> list[dict]:
        seen = {q["id"] for q in _rest(app_id, "sql?length=100000")}
        run()
        return [
            q for q in _rest(app_id, "sql?details=true&planDescription=true&length=100000")
            if q["id"] not in seen and "CollectMetrics" in q["planDescription"]
        ]

    with tempfile.TemporaryDirectory() as ckpt:
        runs = {
            # the durable path: each round's action is the checkpoint write
            "pagerank": lambda: pagerank(
                edges, tol=0.0, max_iter=3,
                checkpointer=CheckpointManager(ckpt, "pr"),
            ).count(),
            # checkpoint-free: each round's action is the eager lineage cut
            "cc": lambda: connected_components(edges).count(),
        }
        bad = 0
        for op, run in runs.items():
            found = rounds(run)
            plan = found[1]["planDescription"]
            s = summarize(found[1])
            bad += s["exchange_above_collect_metrics"]
            with open(os.path.join(out_dir, f"{op}_round.txt"), "w") as f:
                f.write(
                    f"# Executed plan of {op} round 2 of {len(found)} "
                    f"(synthetic graph, {n} vertices, local[2], 4 shuffle "
                    "partitions; tools/capture_round_plans.py)\n"
                    f"# action: {found[1]['description']}\n"
                    f"# shuffle Exchanges executed: {s['shuffle_exchanges']}, "
                    f"BroadcastExchanges: {s['broadcast_exchanges']}\n"
                    "# above CollectMetrics: "
                    f"{' > '.join(s['above_collect_metrics']) or '(nothing)'}\n\n"
                    + plan
                )
            print(op, json.dumps(s))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
