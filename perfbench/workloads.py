"""The workloads: seeded inputs, set-up, and the ordered query list.

A workload is one client issuing its queries in a fixed order, each after
the previous one returned (closed loop). Every query is one call into an
engine layer plus the action that consumes its result; its check runs
afterwards, outside the timed region, against an oracle computed from the
generated rows.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import inputs

COPURCHASE_SF = 0.002
X8_COPIES = 8
# the co-purchase copies are one graph for every seed (only the ids
# change), and at this size PageRank on the repo graph converges in 10
# supersteps for every seed, so a seed changes the inputs but hardly the
# amount of work
REPOS = dict(n_repos=3000, files_per_repo=8, n_communities=30, p_cross=0.05)
LPA_SWEEPS = 3
LOUVAIN_CAPS = dict(max_phases=1, max_rounds_per_phase=2)
CHECKPOINT_EVERY = 2
TOL = 1e-6
MAX_ITER = 100


@dataclass
class Query:
    name: str
    layer: str  # per-layer metric prefix
    call: Callable[[], dict]  # engine call + the action consuming its result
    check: Callable[[dict], None]  # raises AssertionError on a wrong result


@dataclass
class Workload:
    generate: Callable[[int, str], dict]  # (seed, input dir) -> oracles
    setup: Callable[[Any, str], dict]  # (spark, input dir) -> persisted tables
    queries: Callable[[Any, dict, dict, dict], list[Query]]  # + scratch dirs


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _by_vid(pdf: pd.DataFrame, col: str) -> pd.Series:
    return pdf.set_index("vid")[col].sort_index()


def _same_labels(got: pd.Series, want: pd.Series, what: str) -> None:
    _expect(got.equals(want.astype("int64")), f"{what} differ from the oracle")


def _ranks_close(got: pd.Series, want: pd.Series, what: str, **tol) -> None:
    _expect(got.index.equals(want.index), f"{what}: vertex sets differ")
    diff = np.abs(got.to_numpy() - want.to_numpy()).max()
    _expect(
        np.allclose(got.to_numpy(), want.to_numpy(), **(tol or {"rtol": 1e-6, "atol": 1e-12})),
        f"{what}: ranks differ (max abs {diff:.3g})",
    )


def _oracles(edges, cc_edges, lpa_edges, triangles: int | None = None) -> dict:
    """Oracle answers. PageRank and LPA depend on the iteration count the
    engine ran, so they are computed on first use and cached."""
    cache: dict = {}

    def per_iteration(fn, frame):
        def get(n: int):
            if (fn, n) not in cache:
                cache[(fn, n)] = fn(frame, n)
            return cache[(fn, n)]

        return get

    return {
        "edges": edges,
        "pagerank": per_iteration(inputs.pagerank, edges),
        "labelprop": per_iteration(inputs.label_propagation, lpa_edges),
        "components": inputs.components(cc_edges),
        "triangles": inputs.triangles(edges) if triangles is None else triangles,
    }


def warm_up(spark, edges) -> None:
    """Two PageRank supersteps on a 1/32 sample of the edges: compiles the
    superstep plans and warms the JIT before the first timed pass, at a
    fraction of a timed pass's cost."""
    from graphanalytics_spark import graph
    from graphanalytics_spark.operators import pagerank

    part = edges.sample(fraction=1 / 32, seed=0)
    pagerank.pagerank(spark, graph.symmetrize(part), tol=0.0, max_iter=2).count()


def operator_queries(spark, edges, o: dict, dirs: dict, names, sparse=()):
    """The named operator queries on the persisted canonical ``edges``, in
    the order given: ``pagerank``, ``pagerank_checkpointed`` and
    ``resume`` (which needs the one before it), ``components``,
    ``labelprop`` and ``triangles``. Operators named in ``sparse`` run on
    the ``weight >= 2`` subgraph."""
    from pyspark.sql import functions as F

    from graphanalytics_spark import graph
    from graphanalytics_spark.operators import components, labelprop, pagerank, triangles
    from graphanalytics_spark.plans.checkpoint import CheckpointManager

    sym = graph.symmetrize(edges)
    kept: dict = {}

    def input_of(name: str):
        return edges.filter(F.col("weight") >= 2) if name in sparse else edges

    def run_pagerank(**kw) -> dict:
        m = pagerank.IterationMetrics()
        pdf = pagerank.pagerank(spark, sym, tol=TOL, max_iter=MAX_ITER, metrics=m, **kw)
        return {
            "value": _by_vid(pdf.toPandas(), "rank"),
            "supersteps": m.iterations,
            "iter_walls": [r["wall_s"] for r in m.rows],
        }

    def pr_check(r: dict) -> None:
        _ranks_close(r["value"], o["pagerank"](r["supersteps"]), "pagerank")

    def checkpointed() -> dict:
        shutil.rmtree(dirs["ckpt"], ignore_errors=True)
        kept["ck"] = CheckpointManager(spark, dirs["ckpt"], every=CHECKPOINT_EVERY)
        return run_pagerank(checkpointer=kept["ck"])

    def checkpointed_check(r: dict) -> None:
        _ranks_close(r["value"], o["pagerank"](r["supersteps"]), "checkpointed pagerank")
        kept["uninterrupted"] = r["value"]
        snaps = kept["ck"].snapshots()
        _expect(snaps, "no snapshot written")
        r["checkpoint"] = {
            "snapshots": len(snaps),
            "save_s": sum(s["wall_s"] for s in snaps),  # from the _lineage.json sidecars
            "bytes_written": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(dirs["ckpt"])
                for f in files
            ),
        }

    def resume() -> dict:
        # the checkpointed run is treated as killed after its middle snapshot
        snaps = [s["iteration"] for s in kept["ck"].snapshots()]
        t0 = time.monotonic()
        state, _ = kept["ck"].load(snaps[(len(snaps) - 1) // 2])
        load_s = time.monotonic() - t0
        return {**run_pagerank(initial_state=state), "checkpoint": {"load_s": load_s}}

    def resume_check(r: dict) -> None:
        # both runs stop within tol of the fixed point, not on the same step
        _ranks_close(r["value"], kept["uninterrupted"], "resumed pagerank", rtol=0, atol=TOL)

    def cc() -> dict:
        m = pagerank.IterationMetrics()
        res = components.connected_components(spark, input_of("components"), metrics=m)
        return {"value": _by_vid(res.toPandas(), "component"), "supersteps": m.iterations}

    def lpa() -> dict:
        m = pagerank.IterationMetrics()
        res = labelprop.label_propagation(
            spark, input_of("labelprop"), max_iter=LPA_SWEEPS, metrics=m
        )
        return {"value": _by_vid(res.toPandas(), "label"), "supersteps": m.iterations}

    def tri() -> dict:
        return {"value": int(triangles.triangle_count(spark, edges).first()[0])}

    def tri_check(r: dict) -> None:
        _expect(r["value"] == o["triangles"], f"{r['value']} triangles, want {o['triangles']}")

    queries = {
        "pagerank": ("pagerank", run_pagerank, pr_check),
        "pagerank_checkpointed": ("pagerank", checkpointed, checkpointed_check),
        "resume": ("pagerank", resume, resume_check),
        "components": (
            "components",
            cc,
            lambda r: _same_labels(r["value"], o["components"], "component labels"),
        ),
        "labelprop": (
            "labelprop",
            lpa,
            lambda r: _same_labels(r["value"], o["labelprop"](r["supersteps"]), "LPA labels"),
        ),
        "triangles": ("triangles", tri, tri_check),
    }
    return [Query(n, *queries[n]) for n in names]


# --- copurchase_x8 ------------------------------------------------------


def _spark_replicate(spark, edges):
    """``inputs.replicate`` as DataFrame ops: offset copies unioned and
    chained by one cross edge per adjacent pair of copies."""
    from pyspark.sql import functions as F

    lo, hi = edges.select(F.least(F.min("src"), F.min("dst")), F.max("dst")).first()
    n_vid = hi + 1
    out = edges
    for k in range(1, X8_COPIES):
        out = out.union(
            edges.select(
                (F.col("src") + k * n_vid).alias("src"),
                (F.col("dst") + k * n_vid).alias("dst"),
                "weight",
            )
        )
    cross = spark.createDataFrame(
        [(lo + k * n_vid, lo + (k + 1) * n_vid, 1.0) for k in range(X8_COPIES - 1)],
        "src long, dst long, weight double",
    )
    return out.union(cross)


def _x8_edge_table(spark, lineitem):
    from graphanalytics_spark import graph

    return _spark_replicate(spark, graph.copurchase_edges(lineitem))


def _gen_x8(seed: int, d: str) -> dict:
    li = inputs.lineitem(COPURCHASE_SF, seed)
    li.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    base = inputs.copurchase_edges(li)
    edges = inputs.replicate(base, X8_COPIES)
    return _oracles(
        edges,
        edges,
        edges[edges["weight"] >= 2],
        # the chain edges close no triangle, so each copy adds the base's
        triangles=X8_COPIES * inputs.triangles(base),
    )


def _setup_x8(spark, d: str) -> dict:
    li = spark.read.parquet(os.path.join(d, "lineitem.parquet")).persist()
    li.count()
    edges = _x8_edge_table(spark, li).persist()
    edges.count()
    return {"lineitem": li, "edges": edges}


def _x8_queries(spark, t: dict, o: dict, dirs: dict) -> list[Query]:
    checked: list = []

    def edge_check(r: dict) -> None:
        want = o["edges"].sort_values(["src", "dst"], ignore_index=True)
        _expect(r["value"] == len(want), f"{r['value']} edges, want {len(want)}")
        if not checked:
            # the persisted table every other query reads, built by the same
            # call as the timed one: compared row by row once per run
            got = t["edges"].toPandas().sort_values(["src", "dst"], ignore_index=True)
            _expect(got.equals(want.astype(got.dtypes.to_dict())), "edge table differs")
            checked.append(True)

    ops = operator_queries(
        spark,
        t["edges"],
        o,
        dirs,
        ("pagerank", "components", "labelprop", "triangles"),
        sparse=("labelprop",),
    )
    cc = next(q for q in ops if q.name == "components")
    labels_check = cc.check

    def one_component(r: dict) -> None:
        labels_check(r)
        _expect(r["value"].nunique() == 1, "the copies are not one component")

    cc.check = one_component

    def edge_table() -> dict:
        return {"value": _x8_edge_table(spark, t["lineitem"]).count()}

    return [Query("edge_table", "graph", edge_table, edge_check), *ops]


# --- repo_links ---------------------------------------------------------


def _gen_repos(seed: int, d: str) -> dict:
    table, links = inputs.repos(seed=seed, **REPOS)
    table.to_parquet(os.path.join(d, "repos.parquet"), index=False)
    edges = inputs.repo_edges(links)
    o = _oracles(edges, edges, edges)
    directed = links[links["src"] != links["dst"]]
    o["directed_edges"] = len(directed.groupby(["src", "dst"]).size())
    o["sha256"] = pd.Series(
        inputs.sha256_column(table).to_numpy(),
        index=pd.MultiIndex.from_frame(table[["repo", "path"]]),
        name="content_sha256",
    ).sort_index()
    return o


def _setup_repos(spark, d: str) -> dict:
    from graphanalytics_spark import graph, ingest

    repos = spark.read.parquet(os.path.join(d, "repos.parquet")).persist()
    repos.count()
    directed, _ = ingest.build_edges(repos)
    edges = graph.canonicalize(directed).persist()
    edges.count()
    return {"repos": repos, "edges": edges}


def _repo_queries(spark, t: dict, o: dict, dirs: dict) -> list[Query]:
    from graphanalytics_spark import graph, ingest
    from graphanalytics_spark.operators import louvain

    kept: dict = {}

    def ingest_call() -> dict:
        directed, _ = ingest.build_edges(t["repos"])
        kept["directed"] = directed.persist()
        return {"value": kept["directed"].count()}

    def ingest_check(r: dict) -> None:
        _expect(r["value"] == o["directed_edges"], f"{r['value']} directed edges")
        got = ingest.with_sha256(t["repos"]).select("repo", "path", "content_sha256")
        got = got.toPandas().set_index(["repo", "path"])["content_sha256"].sort_index()
        _expect(got.equals(o["sha256"]), "sha256(content) invariant broken")

    def canonicalize() -> dict:
        directed = kept.pop("directed")
        n = graph.canonicalize(directed).count()
        directed.unpersist()
        return {"value": n}

    def louvain_call() -> dict:
        phases: list = []
        res = louvain.louvain(spark, t["edges"], metrics=phases, **LOUVAIN_CAPS)
        comm = _by_vid(res.toPandas(), "community")
        return {
            "value": comm,
            "supersteps": sum(p["rounds"] for p in phases),
            "best_q": max(p["Q"] for p in phases),
            "detail": {
                "phases": [
                    {k: p[k] for k in ("phase", "rounds", "Q", "n_vertices", "n_edges", "wall_s")}
                    for p in phases
                ]
            },
        }

    def louvain_check(r: dict) -> None:
        q = inputs.modularity(o["edges"], r["value"])
        _expect(abs(q - r["best_q"]) < 1e-9, f"modularity {q} != engine's {r['best_q']}")
        _expect(q > 0, f"no community structure found (Q={q:.3f})")
        # every pass of a run must find the same communities; the digest is
        # printed in the detail line, to compare runs of one seed across builds
        digest = f"{int(pd.util.hash_pandas_object(r['value']).sum()):016x}"
        r["detail"]["digest"] = digest
        _expect(kept.setdefault("digest", digest) == digest, "Louvain differs between passes")

    return [
        Query("ingest", "ingest", ingest_call, ingest_check),
        Query(
            "canonicalize",
            "graph",
            canonicalize,
            lambda r: _expect(r["value"] == len(o["edges"]), f"{r['value']} canonical edges"),
        ),
        Query("louvain", "louvain", louvain_call, louvain_check),
        *operator_queries(
            spark,
            t["edges"],
            o,
            dirs,
            ("pagerank_checkpointed", "resume", "components", "triangles"),
        ),
    ]


# why each workload was chosen is recorded in BENCHMARK.json
WORKLOADS = {
    "copurchase_x8": Workload(_gen_x8, _setup_x8, _x8_queries),
    "repo_links": Workload(_gen_repos, _setup_repos, _repo_queries),
}
