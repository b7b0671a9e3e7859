"""Independent answers for every request, computed without Spark.

networkx for BFS levels, Dijkstra and components; numpy power iteration
for PageRank; DuckDB SQL for the algebra reads and for C after replaying
the write log; hashlib md5 and Python set-Jaccard for the dedup pipeline.
"""

from __future__ import annotations

import hashlib
import re

import duckdb
import networkx as nx
import numpy as np
import pandas as pd

REL_TOL = 1e-9


# -- comparison helpers -----------------------------------------------------

def close(a: float, b: float, rel: float = REL_TOL) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def same_map(got: dict, want: dict, rel: float = REL_TOL) -> bool:
    return got.keys() == want.keys() and all(
        close(got[k], want[k], rel) for k in want)


# -- graph_iterative --------------------------------------------------------

def _digraph(g: dict) -> nx.DiGraph:
    G = nx.DiGraph()
    G.add_nodes_from(range(g["n"]))
    G.add_weighted_edges_from(zip(g["src"].tolist(), g["dst"].tolist(),
                                  g["w"].tolist()))
    return G


def graph_answers(g: dict, damping: float, iters: int) -> dict:
    G = _digraph(g)
    labels = {}
    for comp in nx.weakly_connected_components(G):
        low = min(comp)
        labels.update({v: low for v in comp})
    return {
        "bfs": dict(nx.single_source_shortest_path_length(G, g["bfs_source"])),
        "sssp": dict(nx.single_source_dijkstra_path_length(
            G, g["sssp_source"], weight="weight")),
        "cc": labels,
        "pagerank": pagerank_power(g, damping, iters),
    }


def pagerank_power(g: dict, damping: float, iters: int) -> np.ndarray:
    """Fixed-iteration power method; dangling mass (rank on vertices with
    no out-edge) is spread uniformly, as in the program."""
    n = g["n"]
    src, dst = g["src"], g["dst"]
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return r


# -- algebra_mixed ----------------------------------------------------------

class AlgebraOracle:
    """DuckDB tables ``a`` (read-only) and ``c`` (replays each write)."""

    def __init__(self, inp: dict):
        self.con = duckdb.connect()
        self.n = inp["n"]
        self._load("a", inp["A"])
        self._load("c", inp["C0"])

    def close(self):
        self.con.close()

    def _frame(self, triple):
        i, j, v = triple
        return pd.DataFrame({"i": np.asarray(i, np.int64),
                             "j": np.asarray(j, np.int64),
                             "v": np.asarray(v, np.float64)})

    def _load(self, name, triple):
        df = self._frame(triple)  # noqa: F841 (read by DuckDB by name)
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM df")

    def _vec(self, name, pair):
        df = pd.DataFrame({"i": np.asarray(pair[0], np.int64),  # noqa: F841
                           "v": np.asarray(pair[1], np.float64)})
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM df")

    def _pairs(self, sql) -> dict:
        return {r[0]: r[1] for r in self.con.execute(sql).fetchall()}

    def _triples(self, sql) -> dict:
        return {(r[0], r[1]): r[2] for r in self.con.execute(sql).fetchall()}

    def answer(self, r: dict):
        """The expected answer of one request (None for writes), applying
        writes to ``c`` in stream order."""
        k = r["kind"]
        if k == "mxv":
            self._vec("u", r["vec"])
            return self._pairs("SELECT a.i, sum(a.v * u.v) FROM a JOIN u "
                               "ON a.j = u.i GROUP BY a.i")
        if k == "vxm":
            self._vec("u", r["vec"])
            return self._pairs("SELECT c.j, sum(u.v * c.v) FROM c JOIN u "
                               "ON c.i = u.i GROUP BY c.j")
        if k == "ewise_add":
            return self._triples(
                "SELECT coalesce(a.i, c.i), coalesce(a.j, c.j), "
                "coalesce(a.v, 0) + coalesce(c.v, 0) FROM a FULL OUTER JOIN c "
                "ON a.i = c.i AND a.j = c.j")
        if k == "ewise_mult":
            return self._triples("SELECT a.i, a.j, a.v * c.v FROM a JOIN c "
                                 "ON a.i = c.i AND a.j = c.j")
        if k == "reduce_rowwise":
            return self._pairs("SELECT i, sum(v) FROM c GROUP BY i")
        if k == "reduce_scalar":
            return self.con.execute("SELECT sum(v) FROM a").fetchone()[0]
        if k == "extract_rows":
            rows = pd.DataFrame({"i": r["rows"],  # noqa: F841
                                 "pos": np.arange(len(r["rows"]))})
            return self._triples("SELECT rows.pos, c.j, c.v FROM c JOIN rows "
                                 "ON c.i = rows.i")
        if k == "mxm":
            lo, hi = r["row0"], r["row0"] + r["nrows"]
            return self._triples(
                f"WITH b AS (SELECT i - {lo} AS i, j, v FROM a "
                f"WHERE i >= {lo} AND i < {hi}) "
                "SELECT p.i, p.j, p.v FROM (SELECT b.i, a.j, sum(b.v * a.v) v "
                "FROM b JOIN a ON b.j = a.i GROUP BY b.i, a.j) p "
                "SEMI JOIN b ON p.i = b.i AND p.j = b.j")
        if k == "assign_accum":
            bi, bj, bv = r["block"]
            self._load("blk", (bi + r["row0"], bj, bv))
            self.con.execute(
                "CREATE OR REPLACE TABLE c AS SELECT coalesce(c.i, blk.i) i, "
                "coalesce(c.j, blk.j) j, "
                "coalesce(c.v, 0) + coalesce(blk.v, 0) v "
                "FROM c FULL OUTER JOIN blk ON c.i = blk.i AND c.j = blk.j")
            return None
        if k == "masked_ewise":
            self.con.execute(
                "CREATE OR REPLACE TABLE c AS SELECT c.i, c.j, "
                "CASE WHEN a.v IS NULL THEN c.v ELSE c.v + c.v * a.v END v "
                "FROM c LEFT JOIN a ON c.i = a.i AND c.j = a.j")
            return None
        if k == "region_delete":
            (h, w), r0, c0 = r["shape"], r["row0"], r["col0"]
            self.con.execute(
                f"DELETE FROM c WHERE i >= {r0} AND i < {r0 + h} "
                f"AND j >= {c0} AND j < {c0 + w}")
            return None
        raise ValueError(k)

    def c_state(self) -> dict:
        return self._triples("SELECT i, j, v FROM c")


# -- dedup_pipeline ---------------------------------------------------------

def tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip(" "))


def shingles(text: str, n: int) -> set[str]:
    t = tokens(text)
    return {" ".join(t[p:p + n]) for p in range(max(len(t) - n, -1) + 1)}


def exact_groups(docs) -> set:
    groups = {}
    for i, text in docs:
        h = hashlib.md5(text.encode()).hexdigest()
        keep, cnt = groups.get(h, (i, 0))
        groups[h] = (min(keep, i), cnt + 1)
    return {(h, k, c) for h, (k, c) in groups.items()}


def jaccard_pairs(docs, n: int, threshold: float) -> dict:
    """All pairs with round(J, 6) >= threshold: candidates from a shingle
    inverted index, then exact set-Jaccard."""
    sets = {i: shingles(t, n) for i, t in docs}
    index = {}
    for i, s in sets.items():
        for sh in s:
            index.setdefault(sh, []).append(i)
    cands = set()
    for ids in index.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cands.add((ids[x], ids[y]))
    out = {}
    for a, b in cands:
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        j = round(inter / (len(sa) + len(sb) - inter), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


STOPWORDS = ("the", "a", "of", "and", "to")


def quality(text: str) -> float:
    toks = tokens(text)
    n_tok = len(toks)
    n_stop = sum(t in STOPWORDS for t in toks)
    mean_wlen = len(re.sub(r"\s", "", text)) / max(n_tok, 1)
    score = ((0.4 if 10 <= n_tok <= 100000 else 0.0)
             + (0.3 if 2.0 <= mean_wlen <= 12.0 else 0.0)
             + min(n_stop / max(n_tok, 1) * 3.0, 0.3))
    return round(score, 6)


def corpus_answers(docs, n: int, threshold: float) -> dict:
    return {
        "corpus_io": {(i, hashlib.md5(t.encode()).hexdigest())
                      for i, t in docs},
        "exact_dedup": exact_groups(docs),
        "near_dup": jaccard_pairs(docs, n, threshold),
        "quality": {i: quality(t) for i, t in docs},
    }
