"""Toy-size self-test of the benchmark (about a minute on 4 cores):

1. For every workload, outputs built from the oracle itself must pass the
   output check, and each perturbation (one changed rank, one dropped
   truss edge, ...) must be rejected on the step it touches.  No Spark.
2. One traced copurchase_paths run at sf0.001 must be correct and print
   every metric BENCHMARK.json names (layers it does not exercise read 0).

  python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads as W  # noqa: E402

TOY_PAGES = 2_000
TOY_SF = 0.001


def _write(path: str, cols: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return path


def oracle_outputs(workload: str, oracle: dict, d: str) -> tuple[dict, str]:
    """Outputs that are exactly the oracle's answers, plus the (idx, v)
    id map crawl_rank needs (any injective map will do)."""
    ids = None
    out = {}
    if workload == "crawl_rank":
        vid = np.arange(W.N_PAGES, dtype=np.int64) * 7919 + 13
        ids = _write(f"{d}/ids/p.parquet",
                     {"idx": np.arange(W.N_PAGES), "v": vid})
        e = np.array(oracle["edges"])
        out["jobs.extract"] = _write(f"{d}/edges/p.parquet",
                                     {"src": vid[e[:, 0]], "dst": vid[e[:, 1]]})
        pr = oracle["pagerank"]
        out["jobs.pagerank"] = _write(f"{d}/pr/p.parquet", {
            "v": vid[[int(k) for k in pr]], "pagerank": list(pr.values())})
        label = {}
        for k, lab in oracle["cc"].items():
            label[lab] = min(label.get(lab, vid[int(k)]), vid[int(k)])
        out["jobs.cc"] = _write(f"{d}/cc/p.parquet", {
            "v": vid[[int(k) for k in oracle["cc"]]],
            "component": [label[lab] for lab in oracle["cc"].values()]})
    elif workload == "copurchase_peel":
        c = oracle["coreness"]
        out["jobs.coreness"] = _write(f"{d}/core/p.parquet", {
            "v": [int(k) for k in c], "coreness": list(c.values())})
        t = np.array(oracle["ktruss"], dtype=np.int64).reshape(-1, 2)
        out["jobs.ktruss"] = _write(f"{d}/truss/p.parquet",
                                    {"src": t[:, 0], "dst": t[:, 1]})
    else:
        b = oracle["betweenness"]
        for step in W.WORKLOADS[workload].steps:
            out[step] = _write(f"{d}/{step}/p.parquet", {
                "v": [int(k) for k in b], "betweenness": list(b.values())})
    return out, ids


def perturbations(workload: str):
    """(step, description, function rewriting that step's output table)."""
    def bump(col, rel):
        def f(t):
            x = t[col].to_numpy().copy()
            i = int(np.argmax(x))
            x[i] = x[i] * (1 + rel) if x.dtype.kind == "f" else x[i] + 1
            return t.set_column(t.column_names.index(col), col, pa.array(x))
        return f

    def drop_row(t):
        return t.slice(1)

    if workload == "crawl_rank":
        return [("jobs.extract", "one dropped edge", drop_row),
                ("jobs.pagerank", "one rank off by 1e-5", bump("pagerank",
                                                               1e-5)),
                ("jobs.cc", "one changed label", bump("component", 0))]
    if workload == "copurchase_peel":
        return [("jobs.coreness", "one changed core number",
                 bump("coreness", 0)),
                ("jobs.ktruss", "one dropped truss edge", drop_row)]
    return [(s, "one score off by 1e-5", bump("betweenness", 1e-5))
            for s in W.WORKLOADS[workload].steps]


def check_rejections() -> list[str]:
    errors = []
    for workload in W.WORKLOADS:
        inp, checksum, oracle, _ = run.prepare(workload, 1)
        d = os.path.join(run.STATE, "selftest", workload)
        shutil.rmtree(d, ignore_errors=True)
        outputs, ids = oracle_outputs(workload, oracle, d)
        clean = W.check_outputs(workload, outputs, oracle, ids)
        if any(clean.values()):
            errors.append(f"{workload}: oracle outputs rejected: {clean}")
        for step, what, f in perturbations(workload):
            path = outputs[step]
            original = pq.read_table(path)
            pq.write_table(f(original), path)
            got = W.check_outputs(workload, outputs, oracle, ids)
            pq.write_table(original, path)
            status = "rejected" if got[step] else "ACCEPTED"
            print(f"  {workload}: {what} in {step}: {status}"
                  + (f" ({got[step][0]})" if got[step] else ""), flush=True)
            if not got[step]:
                errors.append(f"{workload}: {what} was not detected")
        shutil.rmtree(d, ignore_errors=True)
    return errors


def main() -> int:
    W.N_PAGES, W.SF = TOY_PAGES, TOY_SF
    print(f"# output checks at toy size ({TOY_PAGES} pages, sf{TOY_SF})",
          flush=True)
    errors = check_rejections()

    print("# traced copurchase_paths run at toy size", flush=True)
    s = run.bench("copurchase_paths", 1, 0.0, trace=True)
    if s["failed"]:
        errors.append(f"traced toy run: {s['failed']} failed steps")
    for k, u in run.END_TO_END.items():
        print(f"    {k:<36} {s[k]:>14.4f} {u}")
    print(f"    {'error_rate':<36} {s['error_rate']:>14.4f} ratio")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    missing = [n for n in names if n not in s and n not in s.get("layers", {})]
    if missing:
        errors.append(f"metrics not reported: {missing}")
    for e in errors:
        print(f"SELFTEST FAILED: {e}")
    print("selftest " + ("FAILED" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
