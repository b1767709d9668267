#!/usr/bin/env python
"""Replica scale-up probe: measure queries at sf0.1 vs an Nx replica
corpus to expose defects fixed overhead hides at bench scale.

This harness caught five real scale bugs in round 3 (see
docs/SCALE.md "Measured scale-up"): double-computed streams,
probe panels proportional to corpus size, CartesianProduct chains
re-executing base scans O(P^depth) times, and SimHash band-key-space
collapse. Run it whenever an operator's plan changes.

Usage:
    python tools/scale_probe.py build [N]          # default N=64
    python tools/scale_probe.py run q1 q2 ...      # 1x vs Nx timings
    python tools/scale_probe.py run --all-docs     # doc/embedding ops
    python tools/scale_probe.py build-hnsw N [SEED]  # HNSW build routes

`build-hnsw N` writes a seeded N x 64 gaussian corpus to a temp dir,
builds its HNSW graph once per hnsw_build route (driver, then Spark
with the size cap forced to 0) on local[nproc] after an untimed
warm-up build, and prints per route the wall seconds, process-tree
CPU seconds (this process plus the JVM and Python workers) and the
driver process's peak RSS growth, then whether the two graphs'
edges are identical. docs/SCALE.md "Driver-built HNSW" holds the
table DRIVER_BUILD_MAX_VALUES is set from.

Replicas live in /tmp/uvdb_scale_{N}x (ids shifted per replica so
join/dedup keys stay distinct; texts perturbed so exact dedup does
not collapse them). Ratios well below N mean the operator absorbs the
extra data inside its parallelism; ratios near or above N mean a
probe-set, key-space, or recompute problem.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from unified_vector_database_spark import registry, tables
from unified_vector_database_spark.session import get_spark

SRC = os.environ.get("UVDB_SCALE_SRC", "/root/testdata/sf0.1")

DOC_OPS = [
    "duplicate_spans", "dedup_minhash", "dedup_simhash", "bm25_search",
    "knn_sparse", "lm_bigram_quality", "hybrid_rrf", "chunk_sliding",
    # r4 panel additions (VERDICT #10): the iterative CC fixpoint, the
    # two multi-join fusion/pruning paths, and the Arrow codec kernel
    "dedup_clusters", "hybrid_tri_fusion", "bm25_pruned_search",
    "jpeg_image_features",
    # r4 surface additions worth watching at scale: the gram-vocab
    # agg, the sketch pair (should stay near-flat), and the two
    # Python inference kernels (linear in docs, Arrow-batched)
    "rare_terms", "cardinality_hll", "distinct_kmv",
    "embed_documents", "rerank_inference",
    # r4 continuation additions: the 27-pass char-count agg, the
    # sorted-run dominance gate, the per-doc position math, the
    # exact-percentile MAD (its 64x cost is the documented price of
    # exactness — approx_percentile is the scale path), the JSON
    # payload parse, and the by-id lookup knn
    "string_stats_agg", "gopher_quality_rules", "span_near_search",
    "mad_value", "nested_payload_filter", "knn_by_id",
    # r5 standing-panel additions (VERDICT r4 #10): the heaviest
    # continuation ops — all linear-in-tokens, floors on record —
    # plus the new r5 surface worth watching (double token explode
    # + bigram aggs in the phrase suggester; distinct doc-token
    # explode in significant_text)
    "combined_fields_search", "match_phrase_prefix_search",
    "context_search", "edge_ngram_index",
    "suggest_phrase", "significant_text_agg",
    # r8 standing additions: the token-position query pieces and the
    # two artifact/replay-backed ops worth watching
    "match_bool_prefix_search", "span_multi_search",
    "suggest_completion_fuzzy", "ivf_sq8_knn", "stream_late_data",
]


def build(spark, n: int) -> str:
    big = f"/tmp/uvdb_scale_{n}x"
    os.makedirs(big, exist_ok=True)
    if not os.path.exists(f"{big}/documents.parquet"):
        docs = tables.load(spark, SRC, "documents")
        base = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        rep = docs.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("doc_id", F.col("doc_id") + F.col("_r") * base)
            .withColumn("text", F.concat("text", F.lit(" rep"), F.col("_r")))
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/documents.parquet"))
    if not os.path.exists(f"{big}/embeddings.parquet"):
        emb = tables.load(spark, SRC, "embeddings")
        base = emb.agg(F.max("vec_id")).collect()[0][0] + 1
        rep = emb.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("vec_id", F.col("vec_id") + F.col("_r") * base)
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/embeddings.parquet"))
    if not os.path.exists(f"{big}/customer.parquet"):
        cust = tables.load(spark, SRC, "customer")
        cb = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
        rep = cust.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("c_custkey", F.col("c_custkey") + F.col("_r") * cb)
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/customer.parquet"))
    if not os.path.exists(f"{big}/events.parquet"):
        ev = tables.load_events(spark, SRC)
        eb = ev.agg(F.max("event_id")).collect()[0][0] + 1
        ub = ev.agg(F.max("user_id")).collect()[0][0] + 1
        rep = ev.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("event_id", F.col("event_id") + F.col("_r") * eb)
            .withColumn("user_id", F.col("user_id") + F.col("_r") * ub)
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/events.parquet"))
    if not os.path.exists(f"{big}/part.parquet"):
        part = tables.load(spark, SRC, "part")
        pb = part.agg(F.max("p_partkey")).collect()[0][0] + 1
        rep = part.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("p_partkey", F.col("p_partkey") + F.col("_r") * pb)
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/part.parquet"))
    if not os.path.exists(f"{big}/orders.parquet"):
        # orders + lineitem replicate with the SAME orderkey shift so
        # the parent/child relationship survives per replica
        orders = tables.load(spark, SRC, "orders")
        ob = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
        rep = orders.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (rep.withColumn("o_orderkey", F.col("o_orderkey") + F.col("_r") * ob)
            .drop("_r").repartition(32)
            .write.mode("overwrite").parquet(f"{big}/orders.parquet"))
        li = tables.load(spark, SRC, "lineitem")
        repl = li.select("*", F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))).alias("_r"))
        (repl.withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * ob)
             .drop("_r").repartition(32)
             .write.mode("overwrite").parquet(f"{big}/lineitem.parquet"))
    for dim in ("nation", "region", "supplier"):
        # dimension tables pass through UNCHANGED: at 100 TB the fact
        # tables grow and the dims stay dimension-sized — replicating
        # them would mismodel the broadcast side of every dim join
        if not os.path.exists(f"{big}/{dim}.parquet"):
            (tables.load(spark, SRC, dim).coalesce(1)
             .write.mode("overwrite").parquet(f"{big}/{dim}.parquet"))
    return big


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    kids: dict[int, list[int]] = {}
    for e in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{e}/stat") as f:
                st = f.read()
        except OSError:  # exited during the scan
            continue
        kids.setdefault(int(st[st.rindex(")") + 2:].split()[1]),
                        []).append(int(e))
    total, todo = 0, list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in st[st.rindex(")") + 2:].split()[11:15])
    return time.process_time() + total / os.sysconf("SC_CLK_TCK")


def _rss_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        return int(next(ln for ln in f if ln.startswith(field)).split()[1])


def build_hnsw(n: int, seed: int) -> None:
    """Time both hnsw_build routes on a seeded n-vector corpus."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators import hnsw

    cpus = os.cpu_count() or 1
    spark = get_spark("uvdb-hnsw-build-probe", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    x = np.random.default_rng(seed).standard_normal((n, 64), np.float32)
    d = tempfile.mkdtemp(prefix="uvdb_hnsw_probe_")
    pq.write_table(pa.table({"vec_id": np.arange(n, dtype=np.int64),
                             "embedding": list(x)}), f"{d}/emb.parquet")
    corpus = spark.read.parquet(f"{d}/emb.parquet").select(
        "vec_id", D.vec_double("embedding").alias("vec"))
    cap, plains = hnsw.DRIVER_BUILD_MAX_VALUES, {}
    try:
        # untimed warm-up of both routes (JIT, first-job set-up)
        warm = corpus.where(corpus.vec_id < 300)
        hnsw.hnsw_build(spark, warm)
        hnsw.DRIVER_BUILD_MAX_VALUES = 0
        hnsw.hnsw_build(spark, warm)
        for route, limit in (("driver", n * 64), ("spark", 0)):
            hnsw.DRIVER_BUILD_MAX_VALUES = limit
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")  # reset VmHWM to the current RSS
            rss0 = _rss_kb("VmRSS")
            cpu0, t0 = _tree_cpu_s(), time.perf_counter()
            art = hnsw.hnsw_build(spark, corpus)
            wall, cpu = time.perf_counter() - t0, _tree_cpu_s() - cpu0
            peak = (_rss_kb("VmHWM") - rss0) / 1024
            if art["route"] != route:
                raise RuntimeError(f"{route} build ran {art['route']}")
            plains[route] = hnsw.collect_art(art)
            print(f"build-hnsw n={n} dim=64 route={route} "
                  f"wall_s={wall:.2f} cpu_s={cpu:.2f} "
                  f"driver_peak_mb={peak:+.0f}", flush=True)
    finally:
        hnsw.DRIVER_BUILD_MAX_VALUES = cap
        shutil.rmtree(d, ignore_errors=True)
    same = all(plains["driver"][k] == plains["spark"][k]
               for k in ("L", "tops", "adj"))
    print(f"build-hnsw n={n} edges_identical={same}")


def main() -> int:
    args = sys.argv[1:]
    n = 64
    if args and args[0] == "build-hnsw" and len(args) > 1:
        build_hnsw(int(args[1]), int(args[2]) if len(args) > 2 else 7)
        return 0
    registry.load_all()
    spark = get_spark("uvdb-scale-probe", cpus=16, shuffle_partitions=16)
    if args and args[0] == "build":
        if len(args) > 1:
            n = int(args[1])
        print("built:", build(spark, n))
        return 0
    if args and args[0] == "run":
        names = args[1:]
        if names == ["--all-docs"] or not names:
            names = DOC_OPS
        big = build(spark, n)
        for name in names:
            if name not in registry.QUERIES:
                print(f"{name}: UNKNOWN")
                continue
            ts = {}
            for tag, d in (("1x", SRC), (f"{n}x", big)):
                t0 = time.time()
                try:
                    registry.QUERIES[name](spark, d).collect()
                    spark.catalog.clearCache()
                    ts[tag] = round(time.time() - t0, 2)
                except Exception as e:
                    print(f"{name} {tag}: ERR {str(e)[:120]}")
                    ts[tag] = None
            if all(ts.values()):
                r = round(ts[f"{n}x"] / ts["1x"], 1)
                flag = "  <-- CHECK" if ts[f"{n}x"] > ts["1x"] * n / 2 else ""
                print(f"{name}: 1x={ts['1x']}s {n}x={ts[f'{n}x']}s "
                      f"ratio={r}{flag}")
        return 0
    print(__doc__)
    return 1


if __name__ == "__main__":
    sys.exit(main())
