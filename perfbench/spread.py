"""Run every BENCHMARK.json workload for seeds 1..N and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them) against the metric's
bound.

  python3 perfbench/spread.py --runs 10 [--out perfbench/baseline.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

JOBS = re.compile(r"spark jobs (\[[\d, ]*\])")
PASS = re.compile(r"untraced process: .*cpu_s=([\d.]+) steal=([\d.]+)")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec: dict, workload: str, seed: int) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    # Spark job counts per step of every pass, from the report lines
    out["jobs"] = [m.group(1) for m in map(JOBS.search, lines) if m]
    # CPU seconds of the measured passes' process trees and the host's
    # steal share over them, from the report lines: a set whose job_s
    # drifts while these stay put ran on a busier host
    passes = [m.groups() for m in map(PASS.search, lines) if m]
    out["cpu_s"] = statistics.median(float(c) for c, _ in passes)
    out["steal"] = statistics.median(float(t) for _, t in passes)
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"),
            "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append",
                   help="only this workload (repeatable)")
    p.add_argument("--out", help="write the summary as JSON here")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    summary = {"runs": a.runs, "seeds": list(range(1, a.runs + 1)),
               "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    for w in spec["workloads"]:
        if a.workload and w["name"] not in a.workload:
            continue
        runs = [one_run(spec, w["name"], s) for s in summary["seeds"]]
        res = {"failed": sum(r["failed"] for r in runs),
               "attempted": sum(r["attempted"] for r in runs),
               "wall_s": summarize([r["wall_s"] for r in runs]),
               "cpu_s": summarize([r["cpu_s"] for r in runs]),
               "steal": summarize([r["steal"] for r in runs]),
               "spark_jobs_per_step": sorted({j for r in runs
                                              for j in r["jobs"]}),
               "metrics": {}}
        for m in spec["end_to_end"]:
            s = summarize([r["metrics"][m["name"]]["value"] for r in runs])
            s.update(unit=m["unit"], bound=m["bound"])
            res["metrics"][m["name"]] = s
            print(f"{w['name']:<18} {m['name']:<12} median={s['median']:.4f}"
                  f" {m['unit']} q1={s['q1']:.4f} q3={s['q3']:.4f} "
                  f"spread={s['spread']:.3f} bound={m['bound']}", flush=True)
        for k in ("cpu_s", "steal"):
            s = res[k]
            print(f"{w['name']:<18} {k:<12} median={s['median']:.4f} "
                  f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f}"
                  f" (not a BENCHMARK.json metric)", flush=True)
        print(f"{w['name']:<18} failed {res['failed']}/{res['attempted']}, "
              f"run wall median {res['wall_s']['median']:.1f}s, Spark jobs "
              f"per step seen: {res['spark_jobs_per_step']}", flush=True)
        summary["workloads"][w["name"]] = res
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
