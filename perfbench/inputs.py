"""Seeded input generators and independent numpy/networkx oracles.

Everything here is plain numpy/pandas: the generators write the tables the
engine reads, and the oracles recompute each query's answer from the same
generated rows without Spark, so a wrong engine result cannot also be the
reference it is checked against.
"""

from __future__ import annotations

import hashlib

import networkx as nx
import numpy as np
import pandas as pd

# --- co-purchase: TPC-H-shaped lineitem ---------------------------------


def lineitem(sf: float, seed: int) -> pd.DataFrame:
    """(l_orderkey, l_partkey) rows shaped like TPC-H at scale factor
    ``sf``: 1.5M·sf orders of 1-7 line items each, part keys uniform over
    200k·sf parts. The orders are the same for every ``seed``, so every
    seed yields the same graph and the same amount of work; ``seed``
    relabels the part keys by a permutation, so a claim can be re-checked
    on vertex ids it was not tuned on."""
    rng = np.random.default_rng(0)
    n_orders, n_parts = int(1_500_000 * sf), int(200_000 * sf)
    items = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), items)
    part = rng.integers(0, n_parts, orderkey.size)
    relabel = np.random.default_rng(seed).permutation(n_parts).astype(np.int64) + 1
    return pd.DataFrame({"l_orderkey": orderkey, "l_partkey": relabel[part]})


def copurchase_edges(li: pd.DataFrame) -> pd.DataFrame:
    """Canonical (src<dst) co-purchase edges weighted by shared orders."""
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
    return (
        pairs.groupby(["l_partkey_x", "l_partkey_y"])
        .size()
        .rename("weight")
        .reset_index()
        .rename(columns={"l_partkey_x": "src", "l_partkey_y": "dst"})
        .astype({"weight": "float64"})
    )


def replicate(edges: pd.DataFrame, copies: int) -> pd.DataFrame:
    """``copies`` offset copies of a canonical edge table chained into one
    graph by a weight-1 edge between the copies of its smallest vertex in
    each adjacent pair (the frozen bench's ×24 construction, whose chain
    runs through vertex 0 and so misses a table without one)."""
    lo = int(min(edges["src"].min(), edges["dst"].min()))
    n_vid = int(edges["dst"].max()) + 1
    parts = [
        edges.assign(src=edges["src"] + k * n_vid, dst=edges["dst"] + k * n_vid)
        for k in range(copies)
    ]
    cross = pd.DataFrame(
        {
            "src": lo + np.arange(copies - 1, dtype=np.int64) * n_vid,
            "dst": lo + np.arange(1, copies, dtype=np.int64) * n_vid,
            "weight": 1.0,
        }
    )
    return pd.concat(parts + [cross], ignore_index=True)


# --- repo links: synthetic repos table ----------------------------------

_LANGS = np.array(["py", "js", "go", "java", "rs"])
_LANG_P = [0.4, 0.25, 0.15, 0.1, 0.1]
_IMPORT = {
    "py": "import {}/src/lib",
    "js": 'require("{}/src/lib")',
    "go": 'import "{}/src/lib"',
    "java": "import {}/src/lib;",
    "rs": "use {}/src/lib;",
}
_FILLER = np.array(
    "graph vertex edge rank label partition shuffle batch column row "
    "scan filter join agg window state frontier block csr arrow".split()
)


def repos(
    n_repos: int,
    files_per_repo: int,
    n_communities: int,
    seed: int,
    p_cross: float = 0.02,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(repos table, planted link occurrences).

    Repos are split into ``n_communities`` equal blocks. Each file imports
    1-3 targets: with probability ``1 - p_cross`` from its own block,
    Zipf-skewed toward the block's first repos (hubs), else uniformly from
    any repo. Every draw is one numpy call over all files; only the final
    string assembly is per row. The second frame lists every link
    occurrence (src, dst repo index) the ``content`` column encodes.
    """
    if n_repos > 99_999:
        raise ValueError("repo names carry five digits")
    rng = np.random.default_rng(seed)
    block = n_repos // n_communities
    n_files = n_repos * files_per_repo
    file_repo = np.repeat(np.arange(n_repos), files_per_repo)
    lang = _LANGS[rng.choice(len(_LANGS), n_files, p=_LANG_P)]

    n_links = rng.integers(1, 4, n_files)
    src = np.repeat(file_repo, n_links)
    zipf = 1.0 / np.arange(1, block + 1)
    rank = np.searchsorted(np.cumsum(zipf) / zipf.sum(), rng.random(src.size))
    community = np.minimum(src // block, n_communities - 1)
    dst = np.where(
        rng.random(src.size) < p_cross,
        rng.integers(0, n_repos, src.size),
        community * block + np.minimum(rank, block - 1),
    )
    link_file = np.repeat(np.arange(n_files), n_links)

    names = np.char.add("repo", np.char.zfill(np.arange(n_repos).astype(str), 5))
    n_fill = rng.integers(3, 8, n_files)
    words = _FILLER[rng.integers(0, len(_FILLER), (int(n_fill.sum()), 6))]
    fill_lines = [" ".join(w) for w in words]
    fill_at = np.concatenate([[0], np.cumsum(n_fill)])
    link_at = np.concatenate([[0], np.cumsum(n_links)])
    contents = []
    for f in range(n_files):
        tmpl = _IMPORT[lang[f]]
        lines = [tmpl.format(names[t]) for t in dst[link_at[f] : link_at[f + 1]]]
        lines += fill_lines[fill_at[f] : fill_at[f + 1]]
        contents.append("\n".join(lines))
    path = [
        f"src/mod{j % 3}/file{j}.{lg}"
        for j, lg in zip(np.tile(np.arange(files_per_repo), n_repos), lang)
    ]
    commit = [f"{x:040x}" for x in rng.integers(0, 2**63, n_files)]
    table = pd.DataFrame(
        {
            "repo": names[file_repo],
            "path": path,
            "commit": commit,
            "lang": lang,
            "content": contents,
        }
    )
    links = pd.DataFrame({"src": src, "dst": dst, "file": link_file})
    return table, links


def sha256_column(table: pd.DataFrame) -> pd.Series:
    return table["content"].map(lambda s: hashlib.sha256(s.encode()).hexdigest())


def repo_edges(links: pd.DataFrame) -> pd.DataFrame:
    """Canonical weighted repo graph from the planted link occurrences:
    self links dropped, occurrences counted per directed pair, then summed
    per unordered pair. Vertex id = repo index, which equals the rank of
    the zero-padded repo name the ingest layer assigns."""
    d = links[links["src"] != links["dst"]]
    return (
        pd.DataFrame(
            {"src": np.minimum(d["src"], d["dst"]), "dst": np.maximum(d["src"], d["dst"])}
        )
        .groupby(["src", "dst"])
        .size()
        .rename("weight")
        .reset_index()
        .astype({"src": "int64", "dst": "int64", "weight": "float64"})
    )


# --- oracles ------------------------------------------------------------


def _sym(edges: pd.DataFrame):
    s = edges["src"].to_numpy()
    d = edges["dst"].to_numpy()
    w = edges["weight"].to_numpy()
    return np.concatenate([s, d]), np.concatenate([d, s]), np.concatenate([w, w])


def pagerank(edges: pd.DataFrame, iterations: int, damping: float = 0.85) -> pd.Series:
    """Power iteration on the symmetrized graph, the engine's semantics
    (no dangling vertices in a symmetrized graph), for exactly
    ``iterations`` steps from the uniform vector."""
    s, d, w = _sym(edges)
    vids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: s.size], inv[s.size :]
    n = vids.size
    wdeg = np.bincount(si, weights=w, minlength=n)
    frac = w / wdeg[si]
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        rank = (1 - damping) / n + damping * np.bincount(
            di, weights=frac * rank[si], minlength=n
        )
    return pd.Series(rank, index=vids)


def components(edges: pd.DataFrame) -> pd.Series:
    """vid → min vid of its connected component (networkx)."""
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return pd.Series(out).sort_index()


def label_propagation(edges: pd.DataFrame, iterations: int) -> pd.Series:
    """Synchronous weighted LPA, the engine's semantics: each vertex takes
    the neighbour label of largest summed weight, ties to the smaller
    label, for exactly ``iterations`` sweeps from label = vid."""
    s, d, w = _sym(edges)
    vids = np.unique(s)
    label = pd.Series(vids, index=vids)
    for _ in range(iterations):
        g = (
            pd.DataFrame({"v": d, "l": label.loc[s].to_numpy(), "w": w})
            .groupby(["v", "l"], sort=False)["w"]
            .sum()
            .reset_index()
            .sort_values(["v", "w", "l"], ascending=[True, False, True])
            .drop_duplicates("v")
        )
        label = pd.Series(g["l"].to_numpy(), index=g["v"].to_numpy()).sort_index()
    return label


def triangles(edges: pd.DataFrame) -> int:
    """Exact triangle count: trace(A³)/6 on a dense adjacency for small
    vertex sets, networkx otherwise."""
    vids, inv = np.unique(
        np.concatenate([edges["src"], edges["dst"]]), return_inverse=True
    )
    if vids.size <= 1500:
        a = np.zeros((vids.size, vids.size), dtype=np.float64)
        a[inv[: len(edges)], inv[len(edges) :]] = 1.0
        a += a.T
        return int(round(float(np.einsum("ij,ji->", a @ a, a)) / 6))
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    return sum(nx.triangles(g).values()) // 3


def modularity(edges: pd.DataFrame, community: pd.Series) -> float:
    """Newman modularity of a vid → community assignment."""
    s, d, w = _sym(edges)
    cs, cd = community.loc[s].to_numpy(), community.loc[d].to_numpy()
    two_m = w.sum()
    tot = pd.Series(w).groupby(cs).sum().to_numpy()
    return float(w[cs == cd].sum() / two_m - (tot**2).sum() / two_m**2)
