"""`search`: one client, closed loop, a seeded request mix over a small
resident corpus.

Inputs: N clustered 64-dim vectors with `label`/`tenant` payload and
one Zipf-vocabulary document per vector (doc_id = vec_id), written in
the package's table layout (`embeddings.parquet`, `documents.parquet`)
and served through `tables.load_parallel`, whose memo keeps the scan
plans resident. Before the loop the HNSW graph (`hnsw.session_art`:
build, write, read back, collect for the driver-side beam) and an IVF
index (`index.kmeans_fit` + `assign_cells`) are built; that is
`build_cpu_s` (wall: `index_build_s`).

Requests come in decks of 21, a seeded shuffle of the specified
traffic mix (MIX): 8 plain kNN (~40%), 4 filtered (must/must_not/range
plus a score threshold, ~20%), 2 group_by (~10%), 2 offset pages
(~10%), 1 count (~5%), 2 hybrid RRF (BM25 over seeded terms fused with
a vector search, ~10%) and 1 ANN probe (~5%), plus one batch request
(`knn.batch_knn` for 8 queries and one `arrow_knn.knn_arrow` scan, the
Python-worker path). kNN, group_by and page requests rotate through
cosine, dot and l2. The ANN probe alternates by deck: HNSW
(`hnsw.hnsw_probe_driver`) in even decks, IVF (`index.ivf_probe`) in
odd ones. The loop stops only at a deck boundary, so every run
measures the same mix.

An untimed warm-up first materializes the lazily checkpointed resident
artifacts and measures recall: an HNSW panel of 48 queries through
`hnsw.hnsw_probe_batch_driver` and an IVF panel of 8 queries, each
through `index.ivf_probe`. Then one request of each other kind runs
untimed, so JIT compilation and the start of the Python workers do not
land in the measured deck.

Operation = one request; item = one request; quality = the lower of
the two panels' mean recall@10 against the exact top 10. The deck's
ANN probes are checked too, and their recall is printed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import gen, twin
from ..harness import Run, Stopwatch, pct

SIZES = {"full": 500, "tiny": 300}
# request kind -> requests per deck
MIX = {"knn": 8, "filter": 4, "group": 2, "page": 2, "count": 1,
       "hybrid": 2, "ann": 1, "batch": 1}
DECK_SIZE = sum(MIX.values())
PANEL = 48
IVF_PANEL = 8
# untimed: the recall panels, then one request of each kind (JIT, workers)
WARM_UP = ("ann_panel", "ivf_panel", "knn", "filter", "group", "page",
           "count", "hybrid", "batch")
BATCH = 8
K = 10
RRF_TOP = 15
RRF_CANDIDATES = 100


class Search:
    def __init__(self, run: Run) -> None:
        self.run = run
        n = SIZES[run.size]
        rng = gen.rng_for(run.seed, "search-corpus")
        self.x = gen.vectors(rng, n)
        self.xd = self.x.astype(np.float64)
        self.norms = twin.row_norms(self.xd)
        self.ids = np.arange(n, dtype=np.int64)
        pay = gen.payload(rng, n)
        self.label, self.tenant = pay["label"], pay["tenant"]
        self.texts = {i: gen.document(rng) for i in range(n)}
        self.ds = os.path.join(run.data, "search")
        os.makedirs(self.ds, exist_ok=True)
        pq.write_table(pa.table({
            "vec_id": self.ids, "embedding": list(self.x),
            "label": self.label, "tenant": self.tenant}),
            os.path.join(self.ds, "embeddings.parquet"))
        pq.write_table(pa.table({
            "doc_id": self.ids, "text": [self.texts[i] for i in range(n)],
            "lang": ["en"] * n}),
            os.path.join(self.ds, "documents.parquet"))
        self.req_rng = gen.rng_for(run.seed, "search-requests")
        self.rotation = 0
        self.recalls: list[float] = []       # the warm-up HNSW panel
        self.ivf_recalls: list[float] = []   # the warm-up IVF panel
        self.deck_recalls: list[float] = []  # the deck's ANN probes

    # ---------------------------------------------------------- set-up
    def load(self, rep: int) -> None:
        m, spark = self.run.m, self.run.spark
        m.tables.load_parallel(spark, self.ds, "embeddings", "vec_id")
        m.tables.load_parallel(spark, self.ds, "documents", "doc_id")

    def build(self) -> None:
        m, spark = self.run.m, self.run.spark
        self.sart = m.hnsw.session_art(spark, self.ds)
        corpus = self.corpus()
        self.cents = m.index.kmeans_fit(corpus)
        assigned = m.index.assign_cells(corpus, self.cents)
        with self.run.tracer.span("operators.index.assign_cells.execute",
                           "execute"):
            self.assigned = assigned.localCheckpoint()

    def emb(self):
        m = self.run.m
        return m.tables.load_parallel(self.run.spark, self.ds, "embeddings",
                                      "vec_id")

    def corpus(self):
        d = self.run.m.distance
        return self.emb().select("vec_id",
                                 d.vec_double("embedding").alias("vec"))

    # -------------------------------------------------------- requests
    def deck(self):
        n = 0
        while True:
            ann = self.r_ann_hnsw if n % 2 == 0 else self.r_ann_ivf
            reqs = [ann if kind == "ann" else getattr(self, f"r_{kind}")
                    for kind, count in MIX.items() for _ in range(count)]
            for i in self.req_rng.permutation(len(reqs)):
                yield reqs[i]
            n += 1

    def metric(self) -> str:
        """The next of cosine, dot and l2, in turn."""
        self.rotation += 1
        return twin.METRICS[(self.rotation - 1) % len(twin.METRICS)]

    def query(self) -> np.ndarray:
        return gen.queries_near(self.req_rng, self.x, 1)[0]

    def _search(self, kind: str, spec: dict, want):
        m = self.run.m

        def go():
            df = m.api.search(self.emb(), spec)
            with self.run.tracer.span("api.search.execute", "execute"):
                return [(int(r.vec_id), float(r.score)) for r in df.collect()]
        self.run.op(kind, go, lambda got: twin.ranked_mismatch(got, want))

    def _scores(self, q, metric):
        return twin.scores(self.xd, q, metric, self.norms)

    def r_knn(self) -> None:
        q, metric = self.query(), self.metric()
        spec = {"vector": q.tolist(), "metric": metric, "limit": K,
                "with_payload": ["label"]}
        want = twin.topk(self.ids, self._scores(q, metric), metric, K)
        self._search("knn", spec, want)

    def r_filter(self) -> None:
        rng, q = self.req_rng, self.query()
        labels = sorted(int(v) for v in rng.choice(gen.LABELS, 3,
                                                   replace=False))
        lo = int(rng.integers(0, len(self.ids) // 2))
        hi = lo + len(self.ids) // 2
        tenant = int(rng.integers(0, gen.TENANTS))
        thr = 0.1
        spec = {"vector": q.tolist(), "metric": "cosine", "limit": K,
                "score_threshold": thr, "with_payload": ["label", "tenant"],
                "filter": {"must": [{"key": "label", "any": labels},
                                    {"key": "vec_id",
                                     "range": {"gte": lo, "lt": hi}}],
                           "must_not": [{"key": "tenant", "match": tenant}]}}
        s = self._scores(q, "cosine")
        mask = (np.isin(self.label, labels) & (self.ids >= lo)
                & (self.ids < hi) & (self.tenant != tenant) & (s >= thr))
        want = twin.topk(self.ids[mask], s[mask], "cosine", K)
        self._search("filter", spec, want)

    def r_group(self) -> None:
        q, metric = self.query(), self.metric()
        size, limit = 2, 3
        spec = {"vector": q.tolist(), "metric": metric, "limit": limit,
                "group_by": {"key": "label", "group_size": size}}
        s = self._scores(q, metric)
        groups = []
        for g in np.unique(self.label):
            sel = self.label == g
            groups.append(twin.topk(self.ids[sel], s[sel], metric, size))
        sign = 1.0 if twin.ASCENDING[metric] else -1.0
        groups.sort(key=lambda hits: (sign * hits[0][1], hits[0][0]))
        want = [h for hits in groups[:limit] for h in hits]
        self._search("group", spec, want)

    def r_page(self) -> None:
        q, metric = self.query(), self.metric()
        offset = int(self.req_rng.choice([10, 20, 30]))
        spec = {"vector": q.tolist(), "metric": metric, "limit": K,
                "offset": offset}
        want = twin.topk(self.ids, self._scores(q, metric), metric, K,
                         offset)
        self._search("page", spec, want)

    def r_count(self) -> None:
        m, rng = self.run.m, self.req_rng
        labels = sorted(int(v) for v in rng.choice(gen.LABELS, 4,
                                                   replace=False))
        hi = int(rng.integers(len(self.ids) // 4, len(self.ids)))
        spec = {"filter": {"must": [{"key": "label", "any": labels},
                                    {"key": "vec_id", "range": {"lt": hi}}]}}
        want = int((np.isin(self.label, labels) & (self.ids < hi)).sum())

        def go():
            df = m.api.count(self.emb(), spec)
            with self.run.tracer.span("api.count.execute", "execute"):
                return int(df.collect()[0].n)
        self.run.op("count", go,
                    lambda got: None if got == want
                    else f"count {got} != {want}")

    def r_hybrid(self) -> None:
        from pyspark.sql import functions as F

        m, q = self.run.m, self.query()
        terms = gen.search_terms(self.req_rng, 3)

        def go():
            kw = (m.hybrid.bm25_scores(self.run.spark, self.ds, terms)
                  .orderBy(F.desc("score"), "doc_id").limit(RRF_CANDIDATES))
            vec = (m.api.search(self.emb(), {"vector": q.tolist(),
                                             "limit": RRF_CANDIDATES})
                   .select(F.col("vec_id").alias("doc_id"),
                           F.col("score").alias("vscore")))
            kr = m.hybrid.bounded_ranks(kw, "score", "doc_id", "kr")
            vr = m.hybrid.bounded_ranks(vec, "vscore", "doc_id", "vr")
            k = float(m.hybrid.RRF_K)
            fused = (kr.join(vr, "doc_id", "full_outer")
                     .select("doc_id", F.round(
                         F.coalesce(1.0 / (k + F.col("kr")), F.lit(0.0))
                         + F.coalesce(1.0 / (k + F.col("vr")), F.lit(0.0)),
                         9).alias("rrf"))
                     .orderBy(F.desc("rrf"), "doc_id").limit(RRF_TOP))
            with self.run.tracer.span("operators.hybrid.bounded_ranks.execute",
                               "execute"):
                return [(int(r.doc_id), float(r.rrf)) for r in fused.collect()]

        want = self._rrf_twin(q, terms, m.hybrid)
        self.run.op("hybrid", go,
                    lambda got: twin.ranked_mismatch(got, want, 1e-9))

    def _rrf_twin(self, q, terms, hybrid) -> list[tuple[int, float]]:
        bm = twin.bm25(self.texts, terms, hybrid.BM25_K1, hybrid.BM25_B)
        kw = sorted(bm.items(), key=lambda t: (-t[1], t[0]))[:RRF_CANDIDATES]
        vec = twin.topk(self.ids, self._scores(q, "cosine"), "cosine",
                        RRF_CANDIDATES)
        k = float(hybrid.RRF_K)
        fused: dict[int, float] = {}
        for ranked in (kw, vec):
            for r, (d, _) in enumerate(ranked, 1):
                fused[d] = fused.get(d, 0.0) + 1.0 / (k + r)
        # Spark adds the two coalesced terms in (keyword, vector) order
        kr = {d: r for r, (d, _) in enumerate(kw, 1)}
        vr = {d: r for r, (d, _) in enumerate(vec, 1)}
        out = [(d, round((1.0 / (k + kr[d]) if d in kr else 0.0)
                         + (1.0 / (k + vr[d]) if d in vr else 0.0), 9))
               for d in fused]
        return sorted(out, key=lambda t: (-t[1], t[0]))[:RRF_TOP]

    @staticmethod
    def _ann_mismatch(got, s) -> str | None:
        """An ANN result must be K distinct ids in (score desc, id)
        order, each with its exact cosine score `s[id]`."""
        if len(got) != K or len({i for i, _ in got}) != K:
            return f"{len(got)} rows / not {K} distinct ids"
        for i, sc in got:
            if not twin.close(sc, float(s[i]), twin.TOL):
                return f"score of {i}: {sc!r} != exact {float(s[i])!r}"
        if got != sorted(got, key=lambda t: (-t[1], t[0])):
            return "not in (score desc, id) order"
        return None

    def _ann(self, kind: str, layer: str, probe, q=None,
             recalls=None) -> None:
        q = self.query() if q is None else q
        recalls = self.deck_recalls if recalls is None else recalls
        s = self._scores(q, "cosine")
        exact = [i for i, _ in twin.topk(self.ids, s, "cosine", K)]

        def check(got):
            err = self._ann_mismatch(got, s)
            if err:
                return err
            recalls.append(twin.recall([i for i, _ in got], exact))
            return None

        def go():
            df = probe(q)
            with self.run.tracer.span(f"{layer}.execute", "execute"):
                return [(int(r.vec_id), float(r.score)) for r in df.collect()]
        self.run.op(kind, go, check)

    def r_batch(self) -> None:
        m, spark = self.run.m, self.run.spark
        qs = gen.queries_near(self.req_rng, self.x, BATCH + 1)
        want = [twin.topk(self.ids, self._scores(q, "cosine"), "cosine", K)
                for q in qs]

        def go():
            corpus = self.corpus()
            qdf = spark.createDataFrame(
                [(i, q.tolist()) for i, q in enumerate(qs[:BATCH])],
                "qid int, qvec array<double>")
            res = m.knn.batch_knn(corpus, qdf, K)
            with self.run.tracer.span("operators.knn.batch_knn.execute", "execute"):
                flat = res.collect()
            arrow = m.arrow_knn.knn_arrow(corpus, qs[BATCH].tolist(), K)
            with self.run.tracer.span("operators.arrow_knn.knn_arrow.execute",
                               "execute"):
                arrow = arrow.collect()
            return flat, arrow

        def check(out):
            flat, arrow = out
            per_q: dict[int, list] = {}
            for r in flat:
                per_q.setdefault(int(r.qid), []).append(
                    (int(r.rank), int(r.vec_id), float(r.score)))
            for qi in range(BATCH):
                got = [(i, s) for _, i, s in sorted(per_q.get(qi, []))]
                err = twin.ranked_mismatch(got, want[qi])
                if err:
                    return f"batch_knn query {qi}: {err}"
            err = twin.ranked_mismatch(
                [(int(r.vec_id), float(r.score)) for r in arrow], want[BATCH])
            return f"knn_arrow: {err}" if err else None

        self.run.op("batch", go, check)

    def r_ann_panel(self) -> None:
        m, spark, sart = self.run.m, self.run.spark, self.sart
        qs = gen.queries_near(self.req_rng, self.x, PANEL)
        exact = [[i for i, _ in twin.topk(self.ids, self._scores(q, "cosine"),
                                          "cosine", K)] for q in qs]

        def go():
            qdf = spark.createDataFrame(
                [(i, q.tolist()) for i, q in enumerate(qs)],
                "qid bigint, qvec array<double>")
            return m.hnsw.hnsw_probe_batch_driver(
                spark, sart["corpus"], sart["plain"], qdf, K).collect()

        def check(rows):
            per_q: dict[int, list] = {}
            for r in rows:
                per_q.setdefault(int(r.qid), []).append(
                    (int(r.rank), int(r.vec_id), float(r.score)))
            for qi, q in enumerate(qs):
                got = [(i, sc) for _, i, sc in sorted(per_q.get(qi, []))]
                err = self._ann_mismatch(got, self._scores(q, "cosine"))
                if err:
                    return f"panel query {qi}: {err}"
                self.recalls.append(twin.recall([i for i, _ in got],
                                                exact[qi]))
            return None
        self.run.op("ann_panel", go, check)

    def r_ann_hnsw(self) -> None:
        m, sart = self.run.m, self.sart
        self._ann("ann_hnsw", "operators.hnsw.hnsw_probe_driver", lambda q: m.hnsw.hnsw_probe_driver(
            self.run.spark, sart["corpus"], sart["plain"], q.tolist(), K))

    def _ivf_probe(self, q):
        qdf = self.run.spark.createDataFrame([(q.tolist(),)],
                                             "qvec array<double>")
        return self.run.m.index.ivf_probe(self.sart["corpus"], self.cents,
                                          self.assigned, qdf, K)

    def r_ann_ivf(self) -> None:
        self._ann("ann_ivf", "operators.index.ivf_probe", self._ivf_probe)

    def r_ivf_panel(self) -> None:
        """One IVF probe per query (`ivf_probe` takes one query), so
        that centroid quality and `nprobe` show in the recall."""
        for q in gen.queries_near(self.req_rng, self.x, IVF_PANEL):
            self._ann("ivf_panel", "operators.index.ivf_probe",
                      self._ivf_probe, q, self.ivf_recalls)


def run(run: Run) -> tuple[dict, dict]:
    w = Search(run)
    setup_s = run.setup(w.load)
    with Stopwatch() as build, run.traced():
        w.build()
    run.warm_up(iter([getattr(w, f"r_{k}") for k in WARM_UP]), len(WARM_UP))
    run.loop(w.deck(), quantum=DECK_SIZE)
    lat = run.all_latencies()
    cpu = [x for xs in run.cpu.values() for x in xs]
    hnsw_recall = float(np.mean(w.recalls)) if w.recalls else 0.0
    ivf_recall = float(np.mean(w.ivf_recalls)) if w.ivf_recalls else 0.0
    e2e = {"setup_s": setup_s, "build_cpu_s": build.cpu,
           "items_per_cpu_s": len(lat) / run.busy_s(),
           "quality": min(hnsw_recall, ivf_recall)}
    named = {"index_build_s": (build.wall, "s wall"),
             "search_p50_ms": (1000 * pct(lat, 50), f"ms wall (n={len(lat)})"),
             "search_p95_ms": (1000 * pct(lat, 95), f"ms wall (n={len(lat)})"),
             "search_cpu_p50_ms": (1000 * pct(cpu, 50),
                                   f"ms CPU (n={len(cpu)})"),
             "search_qps": (len(lat) / run.busy_s(cpu=False), "req/s wall"),
             "recall_at_10": (hnsw_recall,
                              f"ratio (HNSW panel, n={len(w.recalls)})"),
             "ivf_recall_at_10": (ivf_recall,
                                  f"ratio (IVF panel, n={len(w.ivf_recalls)})"),
             "deck_ann_recall_at_10": (
                 float(np.mean(w.deck_recalls)) if w.deck_recalls else 0.0,
                 f"ratio (HNSW + IVF probes, n={len(w.deck_recalls)})")}
    return e2e, named
