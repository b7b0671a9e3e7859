"""Seeded input generators: graphs, request streams and the text corpus.

Everything here is plain Python/numpy and depends only on the seed, so the
same seed gives byte-identical inputs (see ``input_hash``) and the program
under test receives nothing but the generated data.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

# R-MAT quadrant probabilities (Graph500 defaults); d = 1 - a - b - c.
RMAT_ABC = (0.57, 0.19, 0.19)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name), so adding a stream
    never shifts the draws of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def rmat_edges(rng: np.random.Generator, scale: int,
               edge_factor: int) -> np.ndarray:
    """Distinct directed R-MAT edges (no self loops) as an (m, 2) int64
    array sorted by (src, dst). Vertex ids are permuted so the hubs are
    not all at low ids."""
    a, b, c = RMAT_ABC
    m = edge_factor << scale
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for bit in range(scale):
        u = rng.random(m)
        down = u >= a + b
        right = ((u >= a) & (u < a + b)) | (u >= a + b + c)
        src |= down.astype(np.int64) << bit
        dst |= right.astype(np.int64) << bit
    perm = rng.permutation(1 << scale)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    edges = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return edges


def torus_edges(side: int, offset: int) -> np.ndarray:
    """Bidirectional side x side torus: vertex-transitive, so every source
    sees the same number of BFS levels (diameter 2 * (side // 2))."""
    out = []
    for r in range(side):
        for c in range(side):
            v = offset + r * side + c
            for dr, dc in ((0, 1), (1, 0), (0, -1), (-1, 0)):
                out.append((v, offset + ((r + dr) % side) * side
                            + (c + dc) % side))
    return np.unique(np.array(out, np.int64), axis=0)


def graph_input(seed: int, scale: int = 10, edge_factor: int = 8,
                torus_side: int = 6) -> dict:
    """Disjoint union of an R-MAT component (ids [0, 2^scale)) and a torus
    (ids after it), with integer edge weights 1..9, plus the per-pass
    request parameters: a BFS source among the ten highest out-degree
    R-MAT vertices (a few heavy rounds) and an SSSP source on the torus
    (many light rounds)."""
    rng = rng_for(seed, "graph")
    n_rmat = 1 << scale
    rm = rmat_edges(rng, scale, edge_factor)
    tor = torus_edges(torus_side, n_rmat)
    edges = np.concatenate([rm, tor])
    weights = rng.integers(1, 10, len(edges)).astype(np.float64)
    n = n_rmat + torus_side * torus_side
    outdeg = np.bincount(rm[:, 0], minlength=n_rmat)
    hubs = np.argsort(-outdeg, kind="stable")[:10]
    req = rng_for(seed, "graph-requests")
    return {
        "n": n,
        "src": edges[:, 0], "dst": edges[:, 1], "w": weights,
        "bfs_source": int(hubs[req.integers(len(hubs))]),
        "sssp_source": int(n_rmat + req.integers(torus_side * torus_side)),
    }


# -- algebra_mixed ----------------------------------------------------------

READ_KINDS = ("mxv", "vxm", "ewise_add", "ewise_mult", "reduce_rowwise",
              "reduce_scalar", "extract_rows", "mxm")
WRITE_KINDS = ("assign_accum", "masked_ewise", "region_delete")
# Fixed interleave (two reads, one write): writes grow C's lineage at the
# same points on every seed, so request cost does not depend on the seed;
# the seed only draws the parameters.
STREAM_SLOTS = ("r", "r", "w") * 4


def _sparse_block(rng, nrows, ncols, nnz):
    flat = rng.choice(nrows * ncols, size=min(nnz, nrows * ncols),
                      replace=False)
    flat.sort()
    return (flat // ncols).astype(np.int64), (flat % ncols).astype(np.int64), \
        rng.integers(1, 10, len(flat)).astype(np.float64)


def algebra_input(seed: int, scale: int = 9, edge_factor: int = 8) -> dict:
    """A: R-MAT matrix (cached, read-only). C0: the initial mutable matrix,
    rebuilt at the start of every pass. requests: the per-pass stream."""
    rng = rng_for(seed, "algebra")
    n = 1 << scale
    a_edges = rmat_edges(rng, scale, edge_factor)
    c_edges = rmat_edges(rng, scale, edge_factor // 2)
    A = (a_edges[:, 0], a_edges[:, 1],
         rng.integers(1, 10, len(a_edges)).astype(np.float64))
    C0 = (c_edges[:, 0], c_edges[:, 1],
          rng.integers(1, 10, len(c_edges)).astype(np.float64))
    req = rng_for(seed, "algebra-requests")
    requests = []
    reads = writes = 0
    for slot in STREAM_SLOTS:
        if slot == "r":
            kind = READ_KINDS[reads % len(READ_KINDS)]
            reads += 1
        else:
            kind = WRITE_KINDS[writes % len(WRITE_KINDS)]
            writes += 1
        requests.append(_algebra_request(req, kind, n))
    return {"n": n, "A": A, "C0": C0, "requests": requests}


def _algebra_request(rng, kind: str, n: int) -> dict:
    r = {"kind": kind}
    if kind == "mxv":          # sparse vector: 5% of the entries
        idx = np.sort(rng.choice(n, n // 20, replace=False))
        r["vec"] = (idx, rng.integers(1, 10, len(idx)).astype(np.float64))
    elif kind == "vxm":        # dense vector
        r["vec"] = (np.arange(n, dtype=np.int64),
                    rng.integers(1, 10, n).astype(np.float64))
    elif kind == "extract_rows":
        r["rows"] = np.sort(rng.choice(n, 32, replace=False))
    elif kind == "mxm":        # row block of A times A, masked by the block
        r["row0"] = int(rng.integers(0, n - 64))
        r["nrows"] = 64
    elif kind == "assign_accum":
        h = 64
        r["row0"] = int(rng.integers(0, n - h))
        r["block"] = _sparse_block(rng, h, n, 4 * h)
        r["shape"] = (h, n)
    elif kind == "region_delete":
        r["row0"] = int(rng.integers(0, n - 32))
        r["col0"] = int(rng.integers(0, n - 128))
        r["shape"] = (32, 128)
    return r


# -- dedup_pipeline ---------------------------------------------------------

def corpus_input(seed: int, n_base: int = 400, vocab: int = 3000,
                 n_exact: int = 40, n_near: int = 60) -> dict:
    """Documents with planted duplicates: ``n_exact`` byte-exact copies and
    ``n_near`` token-edited copies (1-3 substitutions of a 40-80 token
    document) of random base documents. Words follow a Zipf(1.1) law over
    a synthetic vocabulary. Ids are shuffled so duplicates are not
    adjacent."""
    rng = rng_for(seed, "corpus")
    words = [_word(rng) + str(i) for i in range(vocab)]
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()

    def doc(length):
        return [words[k] for k in rng.choice(vocab, length, p=p)]

    base = [doc(int(rng.integers(40, 81))) for _ in range(n_base)]
    texts = [" ".join(t) for t in base]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(n_base))])
    for _ in range(n_near):
        toks = list(base[int(rng.integers(n_base))])
        for _ in range(int(rng.integers(1, 4))):
            toks[int(rng.integers(len(toks)))] = words[
                int(rng.integers(vocab))]
        texts.append(" ".join(toks))
    order = rng.permutation(len(texts))
    return {"docs": [(int(i), texts[k]) for i, k in enumerate(order)]}


def _word(rng) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return "".join(letters[k] for k in rng.integers(0, 26,
                                                    int(rng.integers(2, 9))))


GENERATORS = {"graph_iterative": graph_input,
              "algebra_mixed": algebra_input,
              "dedup_pipeline": corpus_input}


def _canon(obj):
    if isinstance(obj, np.ndarray):
        return {"dtype": str(obj.dtype), "data": obj.tolist()}
    if isinstance(obj, dict):
        return {k: _canon(v) for k, v in sorted(obj.items())}
    if isinstance(obj, (list, tuple)):
        return [_canon(v) for v in obj]
    if isinstance(obj, (np.integer, np.floating)):
        return obj.item()
    return obj


def input_hash(inputs: dict) -> str:
    """sha256 over a canonical JSON rendering of generated inputs."""
    blob = json.dumps(_canon(inputs), sort_keys=True,
                      separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()
