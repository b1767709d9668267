"""`pipeline`: the LLM-data user. One writer ingests crawl shards into a
catalog collection, gates and deduplicates each new shard, and deletes
what the pipeline dropped, so the collection keeps only survivors.

Inputs: document shards (Zipf vocabulary; ~10% in planted
near-duplicate groups of 2-4 copies with 1-3 token edits; ~5% too
short for the quality gate). A base shard is bulk-loaded into
a collection partitioned by `shard` (that bulk load is the build).

Each cycle ingests one new shard of D documents:

1. `upsert` of the shard (a copy-on-write commit of the collection);
2. a sweep over the shard, read back with a partition-pruned filter:
   `quality.gopher_keep` written to parquet, `dedup.verified_edges`
   over the kept documents, `dedup.connected_components` (an eager
   fixpoint loop), then the survivors (the longest document of each
   cluster, ties to the lowest id, plus every unclustered kept
   document) written to parquet;
3. `delete_ids` of every document of the shard that did not survive;
4. maintenance: `snapshot`, `compact` and `vacuum`.

An untimed warm-up cycle over a small shard runs first, so JIT
compilation does not land in the measured cycle, and the loop runs a
fixed number of cycles so every run does the same work.

Checks: after every commit a Python model of the live ids is compared
with `count()` and with the ids of a freshly opened collection, and at
the end from a new session (durability). Every gate decision is
recomputed exactly, every returned edge's shingle Jaccard re-verified,
the components recomputed from the edges and the survivors from them.

Operation = one upsert, sweep, delete or maintenance step; item = one
ingested document; quality = planted near-duplicate pairs (both kept
by the gate) that end in one cluster / such pairs.
"""

from __future__ import annotations

import inspect
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import gen, twin
from ..harness import Run, Stopwatch, pct

# documents per shard, base shards, measured cycles
SIZES = {"full": (600, 1, 1), "tiny": (120, 1, 1)}
WARM_DOCS = {"full": 100, "tiny": 40}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


class Pipeline:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.d, base, self.cycles = SIZES[run.size]
        self.rng = gen.rng_for(run.seed, "pipeline")
        self.shards: list[dict] = []
        self.texts: dict[int, str] = {}
        self.landing = [self._new_shard(self.d) for _ in range(base)]
        self.out = os.path.join(run.data, "pipeline-out")
        self.live: set[int] = {i for sh in self.shards
                               for i in sh["doc_id"].tolist()}
        self.cycle = 0
        self.found = self.planted = 0
        self.edges = self.candidates = 0
        self.docs_in = 0
        self.user_bytes = self.written = 0
        self.bytes_by: dict[str, list[int]] = {}

    def _new_shard(self, n: int) -> str:
        """Generate the next shard and stage it as parquet; returns the
        staged path."""
        k = len(self.shards)
        first = sum(len(sh["text"]) for sh in self.shards)
        sh = gen.doc_shard(self.rng, first, n)
        self.shards.append(sh)
        self.texts.update(zip(sh["doc_id"].tolist(), sh["text"]))
        path = os.path.join(self.run.data, f"shard-{k}")
        os.makedirs(path)
        pq.write_table(pa.table({
            "doc_id": sh["doc_id"], "text": sh["text"], "lang": sh["lang"],
            "shard": np.full(n, k, dtype=np.int32)}),
            os.path.join(path, "part-0.parquet"))
        return path

    # ---------------------------------------------------------- set-up
    def load(self, rep: int) -> None:
        self.base = os.path.join(self.run.data, f"catalog{rep}")
        self.col = self.run.m.catalog.Collection.create(
            self.run.spark, self.base, "crawl", id_col="doc_id",
            partition_by=["shard"])

    def build(self) -> None:
        self.col.upsert(self.run.spark.read.parquet(*self.landing))

    # ---------------------------------------------------------- checks
    def check_state(self, what: str) -> None:
        """Model vs count() and vs the ids of a freshly opened
        collection (untimed)."""
        fresh = self.run.m.catalog.Collection.open(self.run.spark,
                                                   self.base, "crawl")
        n = fresh.count()
        ids = {int(r.doc_id) for r in fresh.read().select("doc_id").collect()}
        err = None
        if n != len(self.live):
            err = f"count() {n} != model {len(self.live)}"
        elif ids != self.live:
            err = (f"ids differ: {len(self.live - ids)} missing, "
                   f"{len(ids - self.live)} extra")
        self.run.check(f"{what} state", err)

    def _account(self, layer: str, version_before: int, user: int) -> None:
        """Add the bytes written by the commits since `version_before`
        (new data versions plus the rewritten manifest)."""
        v = self.col.describe().version
        written = os.path.getsize(os.path.join(self.col.path,
                                               "manifest.json"))
        for k in range(version_before + 1, v + 1):
            p = os.path.join(self.col.path, f"data_v{k}")
            if os.path.isdir(p):
                written += dir_bytes(p)
        self.written += written
        self.user_bytes += user
        self.bytes_by.setdefault(layer, []).append(written)

    # ----------------------------------------------------------- cycle
    def ops(self, n_docs: int):
        while True:
            yield lambda: self.one_cycle(n_docs)

    def one_cycle(self, n_docs: int) -> None:
        run = self.run
        self.cycle += 1
        staged = self._new_shard(n_docs)
        k = len(self.shards) - 1
        sh = self.shards[k]
        ids = set(sh["doc_id"].tolist())

        v0 = self.col.describe().version
        if run.op("upsert", lambda: self.col.upsert(
                run.spark.read.parquet(staged))) is not None:
            self.live |= ids
            self.docs_in += n_docs
        # user bytes: text plus id (8), lang (2) and shard (8)
        self._account("upsert", v0, sum(len(t) + 18 for t in sh["text"]))
        self.check_state(f"cycle {self.cycle} upsert")

        surv_path = self.sweep(k)
        if surv_path is None:
            return
        survivors = set(pq.read_table(surv_path).column("doc_id").to_pylist())
        drop = sorted(ids - survivors)
        v0 = self.col.describe().version
        if run.op("delete", lambda: self.col.delete_ids(drop)) is not None:
            self.live -= set(drop)
        self._account("delete_ids", v0, 8 * len(drop))
        self.check_state(f"cycle {self.cycle} delete")

        v0 = self.col.describe().version

        def maintain():
            self.col.snapshot(f"c{self.cycle}")
            self.col.compact()
            return self.col.vacuum()
        run.op("maintenance", maintain)
        self._account("compact", v0, 0)
        self.check_state(f"cycle {self.cycle} maintenance")

    def sweep(self, shard: int) -> str | None:
        """Gate -> dedup -> survivors over one shard; returns the
        survivors' parquet path (None if the sweep failed)."""
        run, m, spark = self.run, self.run.m, self.run.spark
        from pyspark.sql import Window as W, functions as F

        gate_path = os.path.join(self.out, f"gate-{shard}")
        surv_path = os.path.join(self.out, f"survivors-{shard}")
        captured = []
        if run.trace:   # LSH candidates, for candidate_yield
            lsh = m.dedup.lsh_candidate_pairs
            m.dedup.lsh_candidate_pairs = \
                lambda *a, **kw: captured.append(lsh(*a, **kw)) or captured[-1]

        def go():
            self.col.count()   # the collection size the sweep ran against
            docs = (self.col.read().where(F.col("shard") == shard)
                    .select("doc_id", "text", "lang"))
            gate = m.quality.gopher_keep(docs)
            with run.tracer.span("operators.quality.gopher_keep.execute",
                          "execute"):
                gate.write.parquet(gate_path)
            kept = (spark.read.parquet(gate_path).where("keep")
                    .select("doc_id").join(docs, "doc_id"))
            edges = m.dedup.verified_edges(kept)
            with run.tracer.span("operators.dedup.verified_edges.execute",
                          "execute"):
                edges = edges.localCheckpoint()
            labels = m.dedup.connected_components(edges)
            with run.tracer.span("operators.dedup.connected_components.execute",
                          "execute"):
                sized = (labels.join(kept.select(
                    "doc_id", F.length("text").alias("len")),
                    labels.id == F.col("doc_id")))
                w = W.partitionBy("label").orderBy(F.desc("len"), "id")
                dropped = (sized.withColumn("rk", F.row_number().over(w))
                           .where("rk > 1").select("doc_id"))
                (kept.join(dropped, "doc_id", "left_anti")
                     .select("doc_id").write.parquet(surv_path))
            return edges, labels

        try:
            out = run.op("sweep", go, lambda o: self.check(
                shard, gate_path, surv_path, o))
        finally:
            if run.trace:
                m.dedup.lsh_candidate_pairs = lsh
        if out is None:
            return None
        if captured:
            self.candidates += captured[-1].count()
        return surv_path

    def check(self, shard: int, gate_path: str, surv_path: str, out):
        edges_df, labels_df = out
        sh = self.shards[shard]
        gate = pq.read_table(gate_path).to_pydict()
        got_keep = dict(zip(gate["doc_id"], gate["keep"]))
        want_keep = {}
        for i, t in zip(sh["doc_id"].tolist(), sh["text"]):
            n, keep = twin.gopher_keep(t, self.run.m.quality)
            if n:
                want_keep[i] = keep
        if got_keep != want_keep:
            bad = [i for i in want_keep if got_keep.get(i) != want_keep[i]]
            return f"gate differs on {len(bad)} docs, e.g. {bad[:3]}"
        kept = {i for i, k in want_keep.items() if k}

        edges = [(int(r.id_a), int(r.id_b)) for r in edges_df.collect()]
        tau = inspect.signature(self.run.m.dedup.verified_edges) \
            .parameters["tau"].default
        sets: dict[int, set] = {}
        for a, b in edges:
            if a not in kept or b not in kept:
                return f"edge ({a}, {b}) touches a gated-out document"
            for i in (a, b):
                if i not in sets:
                    sets[i] = twin.shingles(self.texts[i])
            if twin.jaccard(sets[a], sets[b]) < tau:
                return f"edge ({a}, {b}) below Jaccard {tau}"
        comp = twin.components(edges)
        got_comp = {int(r.id): int(r.label) for r in labels_df.collect()}
        if got_comp != comp:
            return "connected components differ from the edges' closure"

        best: dict[int, int] = {}
        for i, c in comp.items():
            b = best.get(c)
            if b is None or (len(self.texts[i]), -i) > (len(self.texts[b]),
                                                        -b):
                best[c] = i
        want_surv = sorted(i for i in kept
                           if i not in comp or best[comp[i]] == i)
        got_surv = sorted(pq.read_table(surv_path).column("doc_id")
                          .to_pylist())
        if got_surv != want_surv:
            return (f"survivors: {len(got_surv)} rows, expected "
                    f"{len(want_surv)}")

        for g in sh["groups"]:
            g = [i for i in g if i in kept]
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    self.planted += 1
                    if g[x] in comp and comp[g[x]] == comp.get(g[y]):
                        self.found += 1
        self.edges += len(edges)
        return None

    def durability(self) -> None:
        """Re-open the collection from a new session and compare."""
        self.run.stop_session()
        self.run.start_session()
        self.check_state("durability (new session)")


def run(run: Run) -> tuple[dict, dict]:
    w = Pipeline(run)
    setup_s = run.setup(w.load)
    with Stopwatch() as build, run.traced():
        w.build()
    w.check_state("bulk load")
    run.warm_up(w.ops(WARM_DOCS[run.size]), 1)
    w.cycle = w.found = w.planted = w.edges = w.candidates = 0
    w.docs_in = w.user_bytes = w.written = 0
    w.bytes_by.clear()
    run.loop(w.ops(w.d), min_ops=w.cycles, quantum=w.cycles)
    w.durability()
    if run.trace:
        extra = run.extra_layers
        v = w.col.describe().version
        extra["sources.catalog.Collection.files_per_version"] = sum(
            1 for _r, _d, fs in os.walk(os.path.join(w.col.path,
                                                     f"data_v{v}"))
            for f in fs if f.endswith(".parquet"))
        for layer, xs in w.bytes_by.items():
            extra[f"sources.catalog.Collection.{layer}.bytes_written"] = \
                float(np.mean(xs))
        if w.candidates:
            extra["operators.dedup.candidate_yield"] = w.edges / w.candidates
    quality = w.found / w.planted if w.planted else 0.0
    sweeps = run.latencies.get("sweep", [])
    commits = run.latencies.get("upsert", []) + run.latencies.get("delete",
                                                                    [])
    e2e = {"setup_s": setup_s, "build_cpu_s": build.cpu,
           "items_per_cpu_s": w.docs_in / run.busy_s(),
           "quality": quality}
    named = {"bulk_load_s": (build.wall, "s wall"),
             "sweep_p50_ms": (1000 * pct(sweeps, 50),
                              f"ms wall (n={len(sweeps)})"),
             "commit_p50_ms": (1000 * pct(commits, 50),
                               f"ms wall (n={len(commits)})"),
             "pipeline_docs_per_s": (w.docs_in / run.busy_s(cpu=False),
                                     "docs/s wall"),
             "dedup_recall": (quality, f"ratio ({w.found}/{w.planted} "
                                       "planted pairs)"),
             "write_amp": (w.written / w.user_bytes if w.user_bytes
                           else float("nan"), "ratio")}
    return e2e, named
