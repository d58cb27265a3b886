"""search_serving: BM25, IVF, exact k-NN and hybrid requests from one
client against indexes built in set-up.

Requests cycle through a fixed list of kinds and the loop only stops at
the end of a cycle, so every run has the same mix. Every result is checked
against numpy: BM25 and k-NN exactly (up to ties at the k-th score),
the IVF and hybrid legs by recall@10 against the exact top-10.
"""

from __future__ import annotations

import math
import time
from collections import Counter

import numpy as np
import pandas as pd

from harness import gen
from harness.context import Ctx

#: one cycle of request kinds; knn_small stays on the JVM cross-score
#: fold and knn_large crosses the vectorized backend's size threshold.
#: An odd cycle puts the median on one request.
KINDS = ("ivf", "bm25", "hybrid", "knn_small", "knn_large")
K = 10


class State:
    def __init__(self, ss, tix, vix, vec_path, requests, knn_batches):
        self.ss = ss
        self.tix = tix
        self.vix = vix
        self.vec_path = vec_path
        self.requests = requests
        self.knn_batches = knn_batches
        self.unit = ss.vectors / np.linalg.norm(ss.vectors, axis=1, keepdims=True)
        self.bm25 = _Bm25(ss.docs["text"].tolist())


def build(ctx: Ctx):
    from pond_spark.functions.lexindex import build_text_index
    from pond_spark.similarity.index import build_ivf_index

    c = ctx.cfg
    ss = gen.search_set(ctx.seed + 2, c["search_docs"], c["clusters"], c["dim"], c["spread"])
    spark = ctx.spark
    vec_path = ctx.path("vectors")
    with ctx.rec.span("search.build", op="setup"):
        docs = spark.createDataFrame(ss.docs)
        tix = build_text_index(docs, ctx.path("text_index"), n_buckets=16)
        spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(len(ss.vectors), dtype=np.int64),
                          "embedding": ss.vectors.tolist()}),
            "vec_id long, embedding array<double>",
        ).write.parquet(vec_path)
        vix = build_ivf_index(spark.read.parquet(vec_path), ctx.path("ivf_index"),
                              n_centroids=c["centroids"])
    return ss, tix, vix, vec_path


def prepare(ctx: Ctx, ss, tix, vix, vec_path) -> State:
    c = ctx.cfg
    reqs = gen.search_requests(ctx.seed + 3, ss, c["search_requests"], c["spread"])
    rng = np.random.default_rng(ctx.seed + 4)
    dim = ss.vectors.shape[1]
    batches = {
        kind: [rng.normal(0, 1, (c[kind], dim)) for _ in range(4)]
        for kind in ("knn_small", "knn_large")
    }
    return State(ss, tix, vix, vec_path, reqs, batches)


class _Bm25:
    """Reference Okapi BM25 over whitespace tokens, quantized the way
    pond_spark.functions.bm25 documents (floor(score * 1e6) per term)."""

    SCALE = 1_000_000
    K1 = 1.2
    B = 0.75

    def __init__(self, texts: list[str]):
        self.tf = [Counter(t.lower().split()) for t in texts]
        self.dl = [sum(c.values()) for c in self.tf]
        self.n = len(texts)
        self.avgdl = sum(self.dl) / self.n
        self.df = Counter(w for c in self.tf for w in c)

    def scores(self, terms: list[str]) -> dict[int, int]:
        out: dict[int, int] = {}
        for w in {t.lower() for t in terms}:
            df = self.df.get(w, 0)
            if not df:
                continue
            idf = math.log(1.0 + ((self.n - df) + 0.5) / (df + 0.5))
            for d, c in enumerate(self.tf):
                tf = c.get(w)
                if tf:
                    tfn = (tf * (self.K1 + 1.0)) / (
                        tf + self.K1 * ((1.0 - self.B) + self.B * (self.dl[d] / self.avgdl)))
                    out[d] = out.get(d, 0) + math.floor(idf * tfn * self.SCALE)
        return out


def _topk_ok(got: list[int], score: dict[int, float], k: int, tol: float) -> bool:
    """``got`` is a valid top-``k`` under ``score``: the right length and
    nothing in it scores below the k-th best by more than ``tol`` (ties
    and last-digit rounding may legally swap ids at the boundary)."""
    ranked = sorted(score.values(), reverse=True)
    want = min(k, len(ranked))
    if len(got) != want or len(set(got)) != want:
        return False
    if not want:
        return True
    kth = ranked[want - 1]
    return all(score.get(i, -math.inf) >= kth - tol for i in got)


def _exact_cos(st: State, q: np.ndarray) -> np.ndarray:
    return st.unit @ (q / np.linalg.norm(q))


def _recall(got: list[int], exact: list[int]) -> float:
    return len(set(got) & set(exact)) / len(exact)


def _ranked(df, id_col: str, score_col: str):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.row_number().over(Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())).alias("rank"),
    )


def run(ctx: Ctx, st: State, seconds: float) -> None:
    from pond_spark.functions.hybrid import RRF_K0, rrf_fuse
    from pond_spark.similarity.brute import knn_join

    spark = ctx.spark
    right = spark.read.parquet(st.vec_path)
    lat: list[float] = []
    by_kind: dict[str, list[float]] = {k: [] for k in set(KINDS)}
    recalls: list[float] = []
    deadline = time.perf_counter() + seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline:
        for kind in KINDS:
            req = st.requests[n % len(st.requests)]
            qs = st.knn_batches[kind][n % 4] if kind in st.knn_batches else None
            op = f"search-{n}"
            n += 1
            t0 = time.perf_counter()
            try:
                with ctx.rec.span("search", op=op):
                    with ctx.rec.span(f"search.{kind}"):
                        if kind == "bm25":
                            with ctx.rec.span("search.plan"):
                                df = st.tix.search(req["terms"], k=K)
                            rows = df.collect()
                        elif kind == "ivf":
                            with ctx.rec.span("search.plan"):
                                df = st.vix.search(req["vec"], k=K, nprobe=ctx.cfg["nprobe"])
                            rows = df.collect()
                        elif kind == "hybrid":
                            with ctx.rec.span("search.plan"):
                                bm = _ranked(st.tix.search(req["terms"], k=K), "doc_id", "score_q")
                                vec = _ranked(
                                    st.vix.search(req["vec"], k=K, nprobe=ctx.cfg["nprobe"]),
                                    "vec_id", "cosine")
                                df = rrf_fuse([bm, vec], id_col="doc_id", k=K)
                            rows = df.collect()
                        else:
                            with ctx.rec.span("search.plan"):
                                left = spark.createDataFrame(
                                    [(i, q.tolist()) for i, q in enumerate(qs)],
                                    "vec_id long, embedding array<double>")
                                df = knn_join(left, right, k=K)
                            rows = df.select("qid", "nid").collect()
            except Exception as e:  # a failed request counts, the loop goes on
                ctx.op(False, f"{kind}: {type(e).__name__}: {e}"[:300])
                continue
            dt_s = time.perf_counter() - t0
            lat.append(dt_s)
            by_kind[kind].append(dt_s)
            try:
                ok = _check(st, kind, req, qs, rows, recalls, RRF_K0)
            except (AttributeError, KeyError, TypeError, ValueError):
                ok = False  # rows without the columns the request returns
            ctx.op(ok, f"wrong {kind} result (request {n - 1})")
    ctx.layer["search"] = {"lat_s": lat, "by_kind_s": by_kind, "recalls": recalls}


def _check(st: State, kind: str, req: dict, qs, rows, recalls: list, k0: int) -> bool:
    """Whether a request's rows are right; the IVF and hybrid legs also
    add their recall to ``recalls``."""
    q = np.asarray(req["vec"])
    if kind == "bm25":
        # each term's contribution is floored on its own, so the two
        # engines may differ by one unit per term
        return _topk_ok([r.doc_id for r in rows], st.bm25.scores(req["terms"]), K,
                        len(req["terms"]))
    if kind == "ivf":
        cos = _exact_cos(st, q)
        got = [r.vec_id for r in rows]
        recalls.append(_recall(got, list(np.argsort(-cos, kind="stable")[:K])))
        # scores must be the true cosines; which ids an ANN search finds
        # is its recall, not its correctness
        return len(got) == K and all(abs(r.cosine - cos[r.vec_id]) < 1e-5 for r in rows)
    if kind == "hybrid":
        got = [r.doc_id for r in rows]
        recalls.append(_recall(got, _exact_hybrid(st, req, q, k0)))
        return len(got) == K
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r.nid)
    return len(by_q) == len(qs) and all(
        _topk_ok(by_q.get(i, []), dict(enumerate(st.unit @ (v / np.linalg.norm(v)))), K, 2e-6)
        for i, v in enumerate(qs))


def _exact_hybrid(st: State, req: dict, q: np.ndarray, k0: int) -> list[int]:
    """RRF of the exact BM25 top-10 and the exact cosine top-10."""
    bm = st.bm25.scores(req["terms"])
    bm_top = sorted(bm, key=lambda d: (-bm[d], d))[:K]
    cos = _exact_cos(st, q)
    vec_top = [int(i) for i in np.argsort(-cos, kind="stable")[:K]]
    fused: dict[int, float] = {}
    for ranking in (bm_top, vec_top):
        for r, d in enumerate(ranking, start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (k0 + r)
    return sorted(fused, key=lambda d: (-fused[d], d))[:K]
