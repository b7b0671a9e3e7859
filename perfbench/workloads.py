"""The three closed-loop workloads.

Each workload builds its program inputs from generated data (``load``),
rebuilds its mutable state before every pass (``reset``), lists the
requests of one pass (``requests``) and judges every answer against an
independent oracle (``check``). A request's ``run`` returns the answer the
caller receives, collected to the driver; checks run outside the timed
interval.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from . import gen, oracles

PR_DAMPING = 0.85
PR_ITERS = 10
JACCARD_N = 3
JACCARD_T = 0.6


@dataclass
class Request:
    cls: str                     # latency class, e.g. "bfs", "read_req"
    kind: str                    # the operation
    run: Callable[[], object]
    write: bool = False
    probe: Callable[[object], None] | None = None   # gets the tracer


class GraphIterative:
    """BFS, SSSP, CC and 10-iteration PageRank on a cached graph that is
    the disjoint union of an R-MAT component and a torus."""

    classes = ("bfs", "sssp", "cc", "pagerank")

    def __init__(self, seed: int):
        self.inp = gen.graph_input(seed)
        self._want = None

    def load(self, gb):
        from dask_grblas_spark import algorithms
        self.alg = algorithms
        g = self.inp
        self.A = gb.Matrix.from_values(g["src"], g["dst"], g["w"],
                                       nrows=g["n"], ncols=g["n"],
                                       dtype="FP64").persist().wait()

    def unload(self):
        self.A.unpersist()

    def reset(self):
        pass

    def requests(self):
        A, alg, g = self.A, self.alg, self.inp
        return [
            Request("bfs", "bfs", lambda: alg.bfs_level(
                A, g["bfs_source"]).to_dict()),
            Request("sssp", "sssp", lambda: alg.sssp(
                A, g["sssp_source"]).to_dict()),
            Request("cc", "cc", lambda: alg.connected_components(A).to_dict()),
            Request("pagerank", "pagerank", lambda: alg.pagerank(
                A, damping=PR_DAMPING, max_iters=PR_ITERS, tol=0).to_dict()),
        ]

    def check(self, k: int, req: Request, got) -> bool:
        if self._want is None:
            self._want = oracles.graph_answers(self.inp, PR_DAMPING, PR_ITERS)
        want = self._want[req.kind]
        if req.kind == "pagerank":
            n = self.inp["n"]
            if set(got) != set(range(n)):
                return False
            return sum(abs(got[i] - want[i]) for i in range(n)) <= 1e-9
        return oracles.same_map(got, want)

    def check_pass(self) -> bool:
        return True


class AlgebraMixed:
    """A seeded stream of single-pass expressions (reads) and in-place
    updates of a mutable matrix C (writes) against a cached R-MAT A."""

    classes = ("read_req", "mxm", "write_req")

    def __init__(self, seed: int):
        self.inp = gen.algebra_input(seed)
        self._want = None
        self._c_want = None

    def load(self, gb):
        from dask_grblas_spark import binary, monoid, semiring
        self.gb, self.binary, self.monoid, self.semiring = \
            gb, binary, monoid, semiring
        n = self.inp["n"]
        self.A = gb.Matrix.from_values(*self.inp["A"], nrows=n, ncols=n,
                                       dtype="FP64").persist().wait()

    def unload(self):
        self.A.unpersist()

    def reset(self):
        n = self.inp["n"]
        self.C = self.gb.Matrix.from_values(*self.inp["C0"], nrows=n, ncols=n,
                                            dtype="FP64")

    def _read(self, r):
        gb, A, C, n = self.gb, self.A, self.C, self.inp["n"]
        plus_times = self.semiring.plus_times
        k = r["kind"]
        if k == "mxv":
            u = gb.Vector.from_values(*r["vec"], size=n, dtype="FP64")
            return A.mxv(u, plus_times).new().to_dict()
        if k == "vxm":
            u = gb.Vector.from_values(*r["vec"], size=n, dtype="FP64")
            return u.vxm(C, plus_times).new().to_dict()
        if k == "ewise_add":
            return A.ewise_add(C, self.binary.plus).new().to_dict()
        if k == "ewise_mult":
            return A.ewise_mult(C, self.binary.times).new().to_dict()
        if k == "reduce_rowwise":
            return C.reduce_rowwise(self.monoid.plus).new().to_dict()
        if k == "reduce_scalar":
            return A.reduce_scalar(self.monoid.plus).new().value
        if k == "extract_rows":
            return C[list(r["rows"]), :].new().to_dict()
        if k == "mxm":
            lo = r["row0"]
            B = A[lo:lo + r["nrows"], :].new()
            return B.mxm(A, plus_times).new(mask=B.S).to_dict()
        raise ValueError(k)

    def _write(self, r):
        gb, A, C = self.gb, self.A, self.C
        k = r["kind"]
        if k == "assign_accum":
            h, w = r["shape"]
            blk = gb.Matrix.from_values(*r["block"], nrows=h, ncols=w,
                                        dtype="FP64")
            C(accum=self.binary.plus)[r["row0"]:r["row0"] + h, :] << blk
        elif k == "masked_ewise":
            C(A.S, accum=self.binary.plus) << C.ewise_mult(A,
                                                          self.binary.times)
        elif k == "region_delete":
            (h, w), r0, c0 = r["shape"], r["row0"], r["col0"]
            C[r0:r0 + h, c0:c0 + w] << gb.Matrix.new("FP64", h, w)
        else:
            raise ValueError(k)

    def _leaves(self, tracer):
        tracer.gauge_max("plan_leaves", self.C.df._jdf.queryExecution()
                         .logical().collectLeaves().size())

    def requests(self):
        out = []
        for r in self.inp["requests"]:
            if r["kind"] in gen.WRITE_KINDS:
                out.append(Request("write_req", r["kind"],
                                   lambda r=r: self._write(r), write=True,
                                   probe=self._leaves))
            else:
                cls = "mxm" if r["kind"] == "mxm" else "read_req"
                out.append(Request(cls, r["kind"], lambda r=r: self._read(r)))
        return out

    def _oracle(self):
        if self._want is None:
            o = oracles.AlgebraOracle(self.inp)
            try:
                self._want = [o.answer(r) for r in self.inp["requests"]]
                self._c_want = o.c_state()
            finally:
                o.close()

    def check(self, k: int, req: Request, got) -> bool:
        self._oracle()
        if req.write:
            return True          # judged by check_pass on C's final state
        want = self._want[k]
        if req.kind == "reduce_scalar":
            return got is not None and oracles.close(got, want)
        return oracles.same_map(got, want)

    def check_pass(self) -> bool:
        self._oracle()
        return oracles.same_map(self.C.to_dict(), self._c_want)


class DedupPipeline:
    """A seeded corpus written and read back through ``sources.io``, then
    exact dedup, MinHash LSH plus exact n-gram Jaccard, and quality
    scoring."""

    classes = ("corpus_io", "exact_dedup", "near_dup", "quality")
    SCHEMA = "doc_id BIGINT, text STRING"
    # (method, span name) pairs the traced run wraps
    traced_methods = (("_read_back", "sources.io.read_back"),)

    def __init__(self, seed: int, workdir: str):
        self.inp = gen.corpus_input(seed)
        self.workdir = workdir
        self._want = None
        self.lsh_recall = None

    def load(self, gb):
        from dask_grblas_spark import get_session
        from dask_grblas_spark.functions import dedup, text
        from dask_grblas_spark.sources import io
        self.dedup, self.text, self.io = dedup, text, io
        spark = get_session()
        self.corpus = spark.createDataFrame(self.inp["docs"],
                                            self.SCHEMA).persist()
        self.corpus.count()

    def unload(self):
        self.corpus.unpersist()

    def reset(self):
        shutil.rmtree(self.workdir, ignore_errors=True)
        os.makedirs(self.workdir)
        self.docs = None

    def _io(self):
        jl = os.path.join(self.workdir, "corpus.jsonl")
        pq = os.path.join(self.workdir, "corpus.parquet")
        self.io.documents_to_jsonl(self.corpus, jl)
        self.io.write_keyed(self.corpus, pq, key="doc_id", n_buckets=4)
        return self._read_back(jl, pq)

    def _read_back(self, jl, pq):
        # the readers return lazy DataFrames: the files are read by the
        # collects, so a traced read span must cover them
        from_json = self.io.documents_from_jsonl(jl, schema=self.SCHEMA)
        self.docs = self.io.read_keyed(pq).select("doc_id", "text")
        return (from_json.collect(), self.docs.collect())

    def _near(self):
        lsh = self.dedup.minhash_lsh_pairs(self.docs, n=JACCARD_N,
                                           threshold=JACCARD_T).collect()
        exact = self.dedup.ngram_jaccard_pairs(self.docs, n=JACCARD_N,
                                               threshold=JACCARD_T).collect()
        return lsh, exact

    def _bytes_ratio(self, tracer):
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(self.workdir) for f in files)
        raw = sum(len(t.encode()) + 8 for _, t in self.inp["docs"])
        tracer.gauges["io_bytes_ratio"] = written / raw

    def requests(self):
        return [
            Request("corpus_io", "corpus_io", self._io,
                    probe=self._bytes_ratio),
            Request("exact_dedup", "exact_dedup", lambda: self.dedup
                    .exact_dedup(self.docs).collect()),
            Request("near_dup", "near_dup", self._near),
            Request("quality", "quality", lambda: self.text
                    .quality_score(self.docs).select("doc_id", "quality")
                    .collect()),
        ]

    def check(self, k: int, req: Request, got) -> bool:
        if self._want is None:
            self._want = oracles.corpus_answers(self.inp["docs"], JACCARD_N,
                                                JACCARD_T)
        want = self._want[req.kind]
        if req.kind == "corpus_io":
            return all(
                len(rows) == len(want)
                and {(r[0], hashlib.md5(r[1].encode()).hexdigest())
                     for r in rows} == want
                for rows in got)
        if req.kind == "exact_dedup":
            return {(r[0], r[1], r[2]) for r in got} == want
        if req.kind == "near_dup":
            lsh, exact = got
            exact_map = {(r[0], r[1]): r[2] for r in exact}
            lsh_map = {(r[0], r[1]): r[2] for r in lsh}
            self.lsh_recall = len(lsh_map) / len(want) if want else 1.0
            return (len(exact) == len(exact_map)
                    and oracles.same_map(exact_map, want, rel=1e-6)
                    and all(p in want and oracles.close(v, want[p], 1e-6)
                            for p, v in lsh_map.items()))
        if req.kind == "quality":
            got_map = {r[0]: r[1] for r in got}
            return len(got) == len(want) and got_map.keys() == want.keys() \
                and all(abs(got_map[i] - want[i]) <= 2e-6 for i in want)
        raise ValueError(req.kind)

    def check_pass(self) -> bool:
        return True
