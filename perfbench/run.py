"""Job-level benchmark of dachshund_spark: one closed-loop client runs a
workload's jobs one after another, one cold pass in each fresh driver
process on local[nproc], and every output is checked against the repo's
kernels.

  python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 1 \
      --trace 0
  python3 perfbench/run.py --workload all --seed 1      # every workload

The last line of stdout is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Lines before it are the human-readable report.  Inputs,
oracle answers, traces and scratch output live under ``.bench_build/``
in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")

# setup_s is the median of at least this many session starts per run
SETUP_SAMPLES = 3
# a driver process that runs longer than this is killed and its steps
# count as failed
PROCESS_TIMEOUT_S = 150
# per traced step, the layers' self times must add up to its wall time
SELF_SUM_TOLERANCE = 0.05
# local[N] with N the cores this process may run on (what nproc prints)
CORES = len(os.sched_getaffinity(0))
PAGE = os.sysconf("SC_PAGE_SIZE")

END_TO_END = {"job_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


# ---------------------------------------------------------------------------
# process tree: memory and clean-up, read from /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _memory_bytes(pid: int) -> tuple[int, bool]:
    """Resident memory of one process, and whether it is a JVM.  Python
    processes count their proportional set size (PSS: each shared page
    split between the processes sharing it), because Spark's Python
    workers are forked from one daemon and share most pages; summing
    their RSS would count those pages once per worker.  The JVM shares
    nothing worth splitting, and reading its PSS walks gigabytes of page
    tables under the lock its allocator needs, so it counts RSS."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * PAGE, True
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024, False
    except (OSError, IndexError, ValueError):
        pass
    return 0, False


class TreeMemory(threading.Thread):
    """Samples the resident memory of a process tree (driver Python, JVM,
    Python workers) every ``interval`` seconds; ``peak`` is the largest
    sum seen, ``peak_jvm`` the JVM's part of it.  Also remembers every pid
    seen, for clean-up."""

    def __init__(self, pid: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = self.peak_jvm = 0
        self.pids: set[int] = set()
        self._done = threading.Event()

    def run(self):
        while not self._done.is_set():
            tree = process_tree(self.pid)
            self.pids.update(tree)
            sizes = [_memory_bytes(p) for p in tree]
            total = sum(b for b, _ in sizes)
            if total > self.peak:
                self.peak = total
                self.peak_jvm = sum(b for b, jvm in sizes if jvm)
            self._done.wait(self.interval)

    def stop(self):
        self._done.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: set[int], grace_s: float = 20.0) -> None:
    """Wait for every process of a finished driver tree to end (the JVM
    exits after its Python parent); kill what outlives ``grace_s``."""
    deadline = time.time() + grace_s
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = time.time() + 5
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# one driver process
# ---------------------------------------------------------------------------


def child_env() -> dict:
    env = dict(os.environ)
    # Spark's Python workers import dachshund_spark from the checkout: a
    # driver that only extends sys.path fails inside mapInPandas
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env.pop("SPARK_GRAFT_CONF", None)  # no outside session overrides
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included, keeps its temp files
    # (and no perf-data file) inside the checkout
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        [env.get("JAVA_TOOL_OPTIONS", ""),
         f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]).strip()
    return env


def run_driver(workload: str, inp: str, seed: int, tag: str,
               trace: bool = False, probe: bool = False) -> dict:
    """Start one driver process and wait for it.  Returns its result
    (setup_s, passes, spark counters, ...) plus ``peak_rss_mb``, or
    {"error": ...} when the process died or timed out."""
    workdir = os.path.join(STATE, "runs", tag)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    result = os.path.join(workdir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", workload, "--input", inp, "--seed", str(seed),
           "--workdir", workdir, "--result", result]
    if trace:
        cmd.append("--trace")
    if probe:
        cmd.append("--probe")
    log_path = os.path.join(workdir, "driver.log")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd + ["--spawn-time", repr(spawn)],
                                env=child_env(), cwd=workdir, stdout=log,
                                stderr=subprocess.STDOUT)
        mem = TreeMemory(proc.pid)
        mem.start()
        try:
            proc.wait(timeout=PROCESS_TIMEOUT_S)
            err = None if proc.returncode == 0 else f"exit {proc.returncode}"
        except subprocess.TimeoutExpired:
            err = f"timed out after {PROCESS_TIMEOUT_S:.0f}s"
            for p in process_tree(proc.pid):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            proc.wait()
        finally:
            mem.stop()
            reap(mem.pids)
    out = {"workdir": workdir}
    if err is None and os.path.exists(result):
        with open(result) as f:
            out.update(json.load(f))
    else:
        with open(log_path) as f:
            tail = f.read()[-2000:]
        out["error"] = f"{err or 'no result'}: {tail}"
    out["peak_rss_mb"] = mem.peak / 1e6
    out["peak_jvm_mb"] = mem.peak_jvm / 1e6
    return out


# ---------------------------------------------------------------------------
# one benchmark run
# ---------------------------------------------------------------------------


def prepare(workload: str, seed: int):
    import workloads as W

    t0 = time.time()
    inp, checksum = W.prepare_input(os.path.join(STATE, "inputs"),
                                    workload, seed)
    oracle = W.load_oracle(os.path.join(STATE, "oracles"), workload, seed,
                           inp, checksum)
    return inp, checksum, oracle, time.time() - t0


def check_pass(workload: str, ps: dict, oracle: dict, ids) -> dict:
    """Per-step problems of one pass: raised, or wrong output."""
    import workloads as W

    problems = {s["name"]: [s["error"].strip().splitlines()[-1]]
                for s in ps["steps"] if s["error"]}
    ok = [s for s in ps["steps"] if not s["error"]]
    try:
        got = W.check_outputs(workload, {s["name"]: s["output"] for s in ok},
                              oracle, ids)
    except Exception as e:  # unreadable output counts against its pass
        got = {s["name"]: [f"check failed: {e!r}"] for s in ok}
    for s in ok:
        problems[s["name"]] = got.get(s["name"], [])
    return problems


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def measure(workload: str, inp: str, seed: int, oracle: dict, tag: str,
            trace: bool) -> tuple[dict, int]:
    """One driver process running one cold pass, with its outputs
    checked.  Returns its result and the number of failed steps."""
    import workloads as W

    res = run_driver(workload, inp, seed, tag, trace=trace)
    n_steps = len(W.WORKLOADS[workload].steps)
    if "error" in res:
        print(f"  FAILED {res['error'][:1500]}", flush=True)
        return res, n_steps
    failed = 0
    if not res["spark"]["complete"]:
        failed += 1
        print("  job ids missing from the status store", flush=True)
    for ps in res["passes"]:
        ps["problems"] = check_pass(workload, ps, oracle, res.get("ids"))
        failed += sum(1 for p in ps["problems"].values() if p)
        report_pass(ps, res)
    if failed == 0:  # a failed run keeps its logs and output
        shutil.rmtree(res["workdir"], ignore_errors=True)
    return res, min(failed, n_steps)


def bench(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run.  Fresh driver processes each run one cold pass,
    one after another, until ``seconds`` of passes were measured (at
    least one); with ``trace``, a traced process runs first.  Then setup
    probes until SETUP_SAMPLES session starts were timed."""
    import workloads as W

    inp, checksum, oracle, prep_s = prepare(workload, seed)
    print(f"# {workload} seed={seed} input sha256={checksum[:16]} "
          f"prep={prep_s:.1f}s cores={CORES}", flush=True)
    n_steps = len(W.WORKLOADS[workload].steps)
    tag = f"{os.getpid()}"
    traced, failed, started, plain = None, 0, 0, []
    if trace:
        traced, failed = measure(workload, inp, seed, oracle, f"{tag}-trace",
                                 trace=True)
        started += 1
    while not plain or (sum(r["passes"][0]["job_s"] for r in plain)
                        < seconds and not failed):
        res, f = measure(workload, inp, seed, oracle,
                         f"{tag}-run{started}", trace=False)
        failed += f
        started += 1
        if "error" in res:
            break
        plain.append(res)
    attempted = n_steps * started
    setups = [r["setup_s"] for r in plain]
    while plain and len(setups) < SETUP_SAMPLES and not trace:
        probe = run_driver(workload, inp, seed, f"{tag}-probe{len(setups)}",
                           probe=True)
        shutil.rmtree(probe["workdir"], ignore_errors=True)
        if "setup_s" not in probe:
            break
        setups.append(probe["setup_s"])
    summary = {
        "workload": workload, "seed": seed, "checksum": checksum,
        "attempted": attempted, "failed": min(failed, attempted),
        "error_rate": min(failed, attempted) / attempted,
        "job_s": median([r["passes"][0]["job_s"] for r in plain]),
        "setup_s": median(setups),
        "peak_rss_mb": median([r["peak_rss_mb"] for r in plain]),
    }
    print(f"  setup_s samples {[round(x, 3) for x in setups]}; job_s is the "
          f"median of {len(plain)} cold passes", flush=True)
    if trace and "trace" in traced:
        summary["layers"] = traced_layers(workload, seed, traced,
                                          summary["job_s"], oracle)
        if summary["layers"]["trace.self_sum_err"][0] > SELF_SUM_TOLERANCE:
            summary["failed"] += 1
            print("  span self times do not add up to the step walls",
                  flush=True)
    elif trace:
        summary["layers"] = {}
    return summary


def traced_layers(workload: str, seed: int, res: dict, untraced_job_s: float,
                  oracle: dict):
    import tracing
    import workloads as W

    layers = tracing.layer_metrics(workload, res, untraced_job_s,
                                   n_pages=W.N_PAGES,
                                   n_edges=len(oracle.get("edges", ())))
    path = tracing.write_trace(os.path.join(STATE, "traces"), workload,
                               seed, res, layers)
    print("  traced pass, per step: wall = self time per layer; "
          "wall = engine busy + driver gap", flush=True)
    for p in tracing.step_breakdown(res):
        parts = " ".join(f"{k}={v:.3f}" for k, v in sorted(p["self_s"].items()))
        print(f"    {p['step']}: wall={p['wall_s']:.3f}s self[{parts}] "
              f"sum={p['self_sum_s']:.3f} busy={p['engine_busy_s']:.3f} "
              f"gap={p['driver_gap_s']:.3f}", flush=True)
    for k, (v, u) in layers.items():
        print(f"    {k:<36} {v:>14.4f} {u}", flush=True)
    print(f"# spans and per-layer table: {os.path.relpath(path, ROOT)}",
          flush=True)
    return layers


def report_pass(ps: dict, res: dict) -> None:
    groups = res["spark"]["groups"]
    steps = "  ".join(f"{s['name']}={s['wall_s']:.2f}s" for s in ps["steps"])
    counts = {k: [groups[s["group"]][k] for s in ps["steps"]]
              for k in ("jobs", "stages", "tasks")}
    bad = {n: p for n, p in ps["problems"].items() if p}
    kind = "traced" if ps["traced"] else "untraced"
    print(f"  {kind} process: setup_s={res['setup_s']:.3f} "
          f"job_s={ps['job_s']:.3f} cpu_s={ps['cpu_s']:.2f} "
          f"steal={ps['steal']:.2f} peak_rss_mb={res['peak_rss_mb']:.0f} "
          f"(JVM {res['peak_jvm_mb']:.0f}) | {steps} "
          f"| spark jobs {counts['jobs']} stages {counts['stages']} "
          f"tasks {counts['tasks']}" + (f" | WRONG {bad}" if bad else ""),
          flush=True)


def print_table(summaries: list[dict]) -> None:
    print(f"{'workload':<18} {'job_s (s)':>10} {'setup_s (s)':>12} "
          f"{'peak_rss_mb (MB)':>17} {'error_rate (ratio)':>19}")
    for s in summaries:
        print(f"{s['workload']:<18} {s['job_s']:>10.3f} {s['setup_s']:>12.3f} "
              f"{s['peak_rss_mb']:>17.1f} {s['error_rate']:>19.3f}")


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   help="crawl_rank | copurchase_peel | copurchase_paths | all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1,
                   help="fresh driver processes, each running one cold "
                        "pass, start until their passes add up to this "
                        "(at least one)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    try:
        import dachshund_spark  # noqa: F401
        import pyspark  # noqa: F401
        import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a)
    if a.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    s = bench(a.workload, a.seed, a.seconds, bool(a.trace))
    if s["job_s"] != s["job_s"]:  # NaN: no pass was measured
        print("perfbench: the driver process measured no pass",
              file=sys.stderr)
        return 1
    print_table([s])
    if a.trace:
        if not s["layers"]:
            print("perfbench: the traced pass produced no trace",
                  file=sys.stderr)
            return 1
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in s["layers"].items()}
    else:
        metrics = {k: {"value": s[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": s["failed"] == 0,
                      "attempted": s["attempted"], "failed": s["failed"],
                      "metrics": metrics}))
    return 0


def run_all(a) -> int:
    """Every workload, each in its own benchmark process, then one table."""
    import workloads as W

    summaries = []
    for w in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {w} exited {proc.returncode}", file=sys.stderr)
            return 1
        last = json.loads(lines[-1])
        m = last["metrics"]
        summaries.append({"workload": w, "error_rate":
                          last["failed"] / last["attempted"],
                          **{k: m[k]["value"] for k in END_TO_END if k in m}})
    if not a.trace:
        print()
        print_table(summaries)
    return 0


if __name__ == "__main__":
    sys.exit(main())
