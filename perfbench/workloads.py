"""Workload definitions: seeded inputs, the steps a driver process runs,
and the oracle each output is checked against.

Inputs are generated here with numpy/pyarrow, not with the library's own
synthesizers, so a change to ``dachshund_spark/sources`` cannot change a
workload; each input carries a sha256 content checksum that the benchmark
prints, and oracle answers are cached per checksum.

The sizes are small: a pass's time is Spark's per-job fixed cost, not
data volume, at these sizes, and a run must fit its time budget (see
perfbench/README.md, "Sizes").  Why each workload was chosen is recorded
in BENCHMARK.json and the README.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# crawl_rank: synthetic pages, link arithmetic of dachshund_spark.oracles
# .page_targets (64 hubs give the skewed reduce keys).  The link graph is
# fixed; the seed sets page text and row order.
N_PAGES = 10_000
N_SITES = 997
N_HUBS = 64
PAGERANK_ITERS = 5

# copurchase_*: TPC-H-shaped co-purchase graph (parts sharing an order),
# scale factor SF: 200_000*SF parts, 1_500_000*SF orders of 1..7 lines.
# The structure is fixed; the seed relabels the vertex ids.
SF = 0.002
# both workload families keep their graph structure fixed, so a seed does
# not change the amount of work.  (Relabelling the crawl's pages changed
# which vertex holds the minimum id, and with it the number of hash-min
# connected-components rounds: 58, 70 or 76 jobs by seed.)
STRUCTURE_SEED = 20240101
KTRUSS_K = 10
BETWEENNESS_SOURCES = 50

SCORE_RTOL = 1e-6
SCORE_ATOL = 1e-9


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "crawl_rank",
            ("jobs.extract", "jobs.pagerank", "jobs.cc"),
        ),
        Workload(
            "copurchase_peel",
            ("jobs.coreness", "jobs.ktruss"),
        ),
        Workload(
            "copurchase_paths",
            ("operators.betweenness_superstep", "operators.betweenness"),
        ),
    )
}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def _url(i: int) -> str:
    return f"https://site{i % N_SITES}.test/page{i}"


def page_links() -> list[tuple[int, int]]:
    """(src, dst) page-number links of the crawl: the link arithmetic of
    the library's pure-python page oracle at the fixed structure seed."""
    from dachshund_spark.oracles import page_targets

    return [(i, t) for i in range(N_PAGES)
            for t in page_targets(i, N_PAGES, N_HUBS, STRUCTURE_SEED)]


def pages_table(seed: int) -> pa.Table:
    """Common-Crawl-style pages (url, warc_ts, html, text, lang) whose html
    embeds ``page_links()`` as anchors.  The seed sets the page text and
    the row order (which pages share an input split); urls, and so vertex
    ids and the link graph, are fixed."""
    out: list[list[int]] = [[] for _ in range(N_PAGES)]
    for a, b in page_links():
        out[a].append(b)
    order = np.random.default_rng(seed).permutation(N_PAGES).tolist()
    urls, html, text = [], [], []
    for i in order:
        body = (
            f"Page {i} body: deterministic crawl text segment "
            f"{(i * 7 + seed) % 1000}."
        )
        anchors = "".join(f'<a href="{_url(t)}">link</a>' for t in out[i])
        urls.append(_url(i))
        text.append(body)
        html.append(
            f"<html><head><title>Page {i}</title></head><body><p>{body}</p>"
            f"{anchors}</body></html>".encode()
        )
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.array(
        order, dtype="timedelta64[s]"
    ).astype("timedelta64[us]")
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * N_PAGES, pa.string()),
        }
    )


def copurchase_structure(sf: float) -> np.ndarray:
    """Canonical (src < dst, distinct) co-purchase edges over part indices
    0..n_parts-1: orders of 1..7 uniformly drawn parts, an edge per pair
    of distinct parts sharing an order."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    n_parts = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    lines = rng.integers(1, 8, n_orders)
    part = rng.integers(0, n_parts, int(lines.sum()))
    start = np.concatenate([[0], np.cumsum(lines)[:-1]])
    pairs = []
    for a in range(7):
        for b in range(a + 1, 7):
            m = lines > b
            pairs.append(np.stack([part[start[m] + a], part[start[m] + b]], 1))
    e = np.concatenate(pairs)
    e = np.sort(e, axis=1)
    e = e[e[:, 0] != e[:, 1]]
    return np.unique(e, axis=0)


def copurchase_table(seed: int) -> pa.Table:
    """The co-purchase graph with part ids relabelled by a seeded
    permutation into [1, 2**40): same structure for every seed, different
    ids (and so different hash partitioning and sampled sources)."""
    e = copurchase_structure(SF)
    n = int(e.max()) + 1
    rng = np.random.default_rng(seed)
    ids = rng.choice(2**40 - 1, size=n, replace=False).astype(np.int64) + 1
    src, dst = ids[e[:, 0]], ids[e[:, 1]]
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    order = np.lexsort((hi, lo))
    return pa.table({"src": lo[order], "dst": hi[order]})


def table_checksum(t: pa.Table) -> str:
    h = hashlib.sha256()
    for name in t.column_names:
        h.update(name.encode())
        for chunk in t.column(name).chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(memoryview(buf))
    return h.hexdigest()


def code_version() -> str:
    """Digest of the code that generates inputs and oracle answers: this
    file and the library modules the oracles call.  Cached inputs and
    answers are keyed by it, so editing any of them recomputes both."""
    import dachshund_spark.functions.kernels as kernels
    import dachshund_spark.operators.centrality as centrality
    import dachshund_spark.oracles as oracles

    h = hashlib.sha256()
    for path in (__file__, kernels.__file__, oracles.__file__,
                 centrality.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare_input(root: str, workload: str, seed: int) -> tuple[str, str]:
    """Write the workload's input parquet under ``root`` once per seed and
    return (path, sha256).  The checksum is stored next to the data."""
    kind = "pages" if workload == "crawl_rank" else "copurchase"
    size = f"{N_PAGES}p" if kind == "pages" else f"sf{SF}"
    d = os.path.join(root, f"{kind}-{size}-s{seed}-{code_version()}")
    meta = os.path.join(d, "_checksum")
    data = os.path.join(d, "data.parquet")
    if os.path.exists(meta):
        with open(meta) as f:
            return data, f.read().strip()
    t = pages_table(seed) if kind == "pages" else copurchase_table(seed)
    digest = table_checksum(t)
    os.makedirs(d, exist_ok=True)
    pq.write_table(t, data, row_group_size=max(1, t.num_rows // 8))
    with open(meta, "w") as f:
        f.write(digest)
    return data, digest


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _adj(src, dst):
    from dachshund_spark.functions.kernels import build_undirected_adj

    return build_undirected_adj(zip(src.tolist(), dst.tolist()))


def compute_oracle(workload: str, seed: int, input_path: str) -> dict:
    """Expected outputs from the repo's pure-python kernels
    (``dachshund_spark.functions.kernels``), keyed by output name."""
    from dachshund_spark.functions import kernels as K

    if workload == "crawl_rank":
        edges = page_links()
        adj = K.build_undirected_adj(edges)
        pr = K.pagerank_numpy(edges, tol=0.0, max_iter=PAGERANK_ITERS)
        comp = {}
        for members in K.component_sets(adj):
            label = min(members)
            comp.update((m, label) for m in members)
        return {
            "edges": sorted(edges),
            "pagerank": {str(k): v for k, v in pr.items()},
            "cc": {str(k): v for k, v in comp.items()},
        }
    t = pq.read_table(input_path)
    src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
    adj = _adj(src, dst)
    if workload == "copurchase_peel":
        truss, _ = K.k_trusses(adj, KTRUSS_K)
        return {
            "coreness": {str(k): v for k, v in K.coreness_values(adj).items()},
            "ktruss": sorted(e for part in truss for e in part),
        }
    from dachshund_spark.operators.centrality import sample_sources_py

    sources = sample_sources_py(sorted(adj), BETWEENNESS_SOURCES, seed)
    bc = dict.fromkeys(adj, 0.0)
    for s in sources:
        for v, dep in K.brandes_single_source(adj, s).items():
            bc[v] += dep
    return {
        "sources": sources,
        "betweenness": {str(k): v for k, v in bc.items()},
    }


def load_oracle(cache_dir: str, workload: str, seed: int, input_path: str,
                checksum: str) -> dict:
    """Oracle answers cached per workload, input checksum, seed and code
    version."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(
        cache_dir, f"{workload}-{checksum[:24]}-s{seed}-{code_version()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    oracle = compute_oracle(workload, seed, input_path)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(oracle, f)
    os.replace(tmp, path)
    return oracle


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _read(path: str, cols: list[str]) -> dict:
    t = pq.read_table(path, columns=cols)
    return {c: t[c].to_numpy() for c in cols}


def _check_scores(got_v, got_x, want: dict, what: str) -> list[str]:
    if len(got_v) != len(want) or len(set(got_v.tolist())) != len(got_v):
        return [f"{what}: {len(got_v)} rows, expected {len(want)} distinct"]
    try:
        ref = np.array([want[str(v)] for v in got_v.tolist()])
    except KeyError as e:
        return [f"{what}: unexpected vertex {e}"]
    bad = ~np.isclose(got_x, ref, rtol=SCORE_RTOL, atol=SCORE_ATOL)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [
            f"{what}: {int(bad.sum())} scores off, e.g. v={got_v[i]} "
            f"got {got_x[i]!r} want {ref[i]!r}"
        ]
    return []


def _check_exact(got_v, got_x, want: dict, what: str) -> list[str]:
    got = {str(v): int(x) for v, x in zip(got_v.tolist(), got_x.tolist())}
    if len(got) != len(got_v):
        return [f"{what}: duplicate vertices"]
    want = {k: int(v) for k, v in want.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return [f"{what}: {len(set(got.items()) ^ set(want.items()))} "
                f"mismatched entries, e.g. {diff}"]
    return []


def _check_edges(got_src, got_dst, want: list, what: str) -> list[str]:
    got = sorted(zip(got_src.tolist(), got_dst.tolist()))
    want = sorted(tuple(e) for e in want)
    if got != want:
        sg, sw = set(got), set(want)
        return [f"{what}: {len(got)} edges vs {len(want)} expected "
                f"({len(sg - sw)} extra, {len(sw - sg)} missing)"]
    return []


def check_outputs(workload: str, outputs: dict, oracle: dict,
                  ids: dict | None = None) -> dict[str, list[str]]:
    """Compare every output a pass wrote with the oracle.  Returns
    {step: [problems]}; an empty list means the step's output is correct.
    ``ids`` is the parquet path of (idx, v): page index -> vertex id for
    crawl_rank (the engine's url hash, computed by the driver process
    outside the timed region)."""
    out: dict[str, list[str]] = {}
    if workload == "crawl_rank":
        m = _read(ids, ["idx", "v"])
        vid = np.empty(N_PAGES, dtype=np.int64)
        vid[m["idx"]] = m["v"]
        to_idx = {v: i for i, v in enumerate(vid.tolist())}
        e = _read(outputs["jobs.extract"], ["src", "dst"])
        out["jobs.extract"] = _check_edges(
            np.array([to_idx.get(v, -1) for v in e["src"].tolist()]),
            np.array([to_idx.get(v, -1) for v in e["dst"].tolist()]),
            oracle["edges"], "edges",
        )
        pr = _read(outputs["jobs.pagerank"], ["v", "pagerank"])
        out["jobs.pagerank"] = _check_scores(
            np.array([to_idx.get(v, -1) for v in pr["v"].tolist()]),
            pr["pagerank"], oracle["pagerank"], "pagerank",
        )
        cc = _read(outputs["jobs.cc"], ["v", "component"])
        # the engine labels a component by its minimum vertex id, the
        # oracle by its minimum page index: relabel the oracle's
        # components through the id map
        label_id: dict[int, int] = {}
        for k, lab in oracle["cc"].items():
            label_id[lab] = min(label_id.get(lab, vid[int(k)]), vid[int(k)])
        want = {str(vid[int(k)]): int(label_id[lab])
                for k, lab in oracle["cc"].items()}
        out["jobs.cc"] = _check_exact(
            cc["v"], cc["component"], want, "cc"
        )
    elif workload == "copurchase_peel":
        c = _read(outputs["jobs.coreness"], ["v", "coreness"])
        out["jobs.coreness"] = _check_exact(
            c["v"], c["coreness"], oracle["coreness"], "coreness"
        )
        t = _read(outputs["jobs.ktruss"], ["src", "dst"])
        out["jobs.ktruss"] = _check_edges(
            t["src"], t["dst"], oracle["ktruss"], "ktruss"
        )
    else:
        for step in WORKLOADS[workload].steps:
            b = _read(outputs[step], ["v", "betweenness"])
            out[step] = _check_scores(
                b["v"], b["betweenness"], oracle["betweenness"], step
            )
    return out
