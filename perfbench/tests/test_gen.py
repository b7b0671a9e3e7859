"""Determinism of the seeded input generators and sanity of the oracles.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, oracles  # noqa: E402


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_same_hash_different_seed_different_hash(name):
    make = gen.GENERATORS[name]
    first = gen.input_hash(make(7))
    assert gen.input_hash(make(7)) == first
    assert gen.input_hash(make(8)) != first


def test_graph_is_disjoint_union_with_sources_in_their_components():
    g = gen.graph_input(3)
    n_rmat = 1 << 10
    rm = g["src"] < n_rmat
    # no edge crosses between the R-MAT ids and the torus ids
    assert np.array_equal(rm, g["dst"] < n_rmat)
    assert g["bfs_source"] < n_rmat <= g["sssp_source"] < g["n"]
    assert len(set(zip(g["src"].tolist(), g["dst"].tolist()))) == len(g["src"])


def test_torus_bfs_depth_is_the_same_from_every_source():
    side = 6
    g = {"n": side * side, "src": gen.torus_edges(side, 0)[:, 0],
         "dst": gen.torus_edges(side, 0)[:, 1],
         "w": np.ones(4 * side * side)}
    depths = set()
    for s in range(side * side):
        g["bfs_source"] = g["sssp_source"] = s
        depths.add(max(oracles.graph_answers(g, 0.85, 1)["bfs"].values()))
    assert depths == {2 * (side // 2)}


def test_algebra_stream_has_fixed_shape():
    a, b = gen.algebra_input(1), gen.algebra_input(2)
    kinds = [r["kind"] for r in a["requests"]]
    assert kinds == [r["kind"] for r in b["requests"]]
    assert set(kinds) == set(gen.READ_KINDS) | set(gen.WRITE_KINDS)


def test_corpus_has_planted_duplicates():
    docs = gen.corpus_input(5)["docs"]
    want = oracles.corpus_answers(docs, 3, 0.6)
    assert sum(c - 1 for _, _, c in want["exact_dedup"]) >= 40
    # planted near-duplicates show up as pairs below Jaccard 1
    assert sum(1 for j in want["near_dup"].values() if j < 1.0) >= 30


def test_pagerank_oracle_sums_to_one():
    g = gen.graph_input(2)
    r = oracles.pagerank_power(g, 0.85, 10)
    assert abs(r.sum() - 1.0) < 1e-9
