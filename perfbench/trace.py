"""Outside-in tracer for the traced run (`--trace 1`).

Nothing here edits the package. The tracer wraps the package's public
layer functions by replacing the module (or class) attribute with a
timing wrapper, so calls the benchmark makes and calls one layer makes
into another through its module attribute (`tables.load_parallel`
from `hybrid.bm25_scores`, `dedup.lsh_candidate_pairs` from
`dedup.verified_edges`) are both recorded.

Per call it records a span: name, start, end, parent span, request id.
Each span runs under its own Spark job group (`pb-<span id>`), so
every job, stage and task Spark runs is attributed to the innermost
open span. At span end `statusTracker` gives the span's own job ids;
the uncompressed event log, parsed after the session stops, gives
each job's interval and each task's executor CPU, GC, run time,
shuffle bytes and Python-worker time. Spans are kept in memory and
written out once, when the run ends.

A layer's self time is its span duration minus the union of its child
spans; `driver_only_ms` is the duration minus the union of the
intervals of the jobs it (or its children) ran.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

PKG = "unified_vector_database_spark"

# (span name, module, attribute path) of every wrapped layer call.
LAYERS = [
    ("api.search", "api", "search"),
    ("api.count", "api", "count"),
    ("tables.load_parallel", "tables", "load_parallel"),
    ("operators.hnsw.hnsw_build", "operators.hnsw", "hnsw_build"),
    ("operators.hnsw.hnsw_write", "operators.hnsw", "hnsw_write"),
    ("operators.hnsw.hnsw_read", "operators.hnsw", "hnsw_read"),
    ("operators.hnsw.collect_art", "operators.hnsw", "collect_art"),
    ("operators.hnsw.hnsw_probe_driver", "operators.hnsw",
     "hnsw_probe_driver"),
    ("operators.index.kmeans_fit", "operators.index", "kmeans_fit"),
    ("operators.index.assign_cells", "operators.index", "assign_cells"),
    ("operators.index.ivf_probe", "operators.index", "ivf_probe"),
    ("operators.hybrid.bm25_scores", "operators.hybrid", "bm25_scores"),
    ("operators.hybrid.bounded_ranks", "operators.hybrid", "bounded_ranks"),
    ("operators.knn.batch_knn", "operators.knn", "batch_knn"),
    ("operators.arrow_knn.knn_arrow", "operators.arrow_knn", "knn_arrow"),
    ("operators.quality.gopher_keep", "operators.quality", "gopher_keep"),
    ("operators.dedup.verified_edges", "operators.dedup", "verified_edges"),
    ("operators.dedup.lsh_candidate_pairs", "operators.dedup",
     "lsh_candidate_pairs"),
    ("operators.dedup.connected_components", "operators.dedup",
     "connected_components"),
] + [(f"sources.catalog.Collection.{m}", "sources.catalog",
      f"Collection.{m}")
     for m in ("upsert", "delete_ids", "compact", "vacuum", "snapshot",
               "read", "count")]

# layers whose memo is measured: a call is a hit when it hands back the
# very object the previous call with the same arguments returned
MEMO_LAYERS = {"tables.load_parallel"}


class Tracer:
    """Span recorder. `enabled` is switched per operation: the traced
    run alternates traced and untraced operations so the difference of
    their latencies is the tracing overhead."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.request: int | None = None
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        # (layer, argument key) -> the last result, held so that its id
        # cannot be reused by a new object and pass for a memo hit
        self._last: dict[tuple[str, str], object] = {}

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "kind": kind,
               "parent": parent["id"] if parent else None,
               "request": self.request, "start": time.time()}
        group = f"pb-{rec['id']}"
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                rec["job_ids"] = sorted(
                    sc.statusTracker().getJobIdsForGroup(group))
                if parent is not None:
                    sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # ------------------------------------------------------ instrument
    def instrument(self, modules: dict) -> None:
        """Wrap every LAYERS attribute of the freshly imported package
        `modules` (short module name -> module object)."""
        for name, mod, attr in LAYERS:
            owner = modules[mod]
            *path, fn_name = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, fn_name)
            setattr(owner, fn_name, self._wrap(name, orig))
            self._patched.append((owner, fn_name, orig))

    def restore(self) -> None:
        for owner, fn_name, orig in reversed(self._patched):
            setattr(owner, fn_name, orig)
        self._patched.clear()
        self._last.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        memo = name in MEMO_LAYERS

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if memo:
                    key = (name, _arg_key(args, kwargs))
                    if rec is not None:
                        rec["memo_hit"] = (key in tracer._last
                                           and tracer._last[key] is out)
                    tracer._last[key] = out
                return out
        return wrapper

    # ----------------------------------------------------------- output
    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _arg_key(args, kwargs) -> str:
    """Hashable identity of a call's arguments for memo-hit counting:
    strings and numbers by value, everything else by object id."""
    def one(a):
        return repr(a) if isinstance(a, (str, int, float, tuple)) else \
            f"obj{id(a)}"
    return "|".join([one(a) for a in args]
                    + [f"{k}={one(v)}" for k, v in sorted(kwargs.items())])


# --------------------------------------------------------- event log
def parse_event_logs(log_dir: str) -> tuple[dict, dict]:
    """Every event log file under `log_dir` -> (jobs, groups).

    jobs: job id (per application) -> {group, start, end} in ms.
    groups: job group -> summed task metrics {tasks, cpu_ms, run_ms,
    gc_ms, shuffle_bytes, python_ms}."""
    jobs: dict = {}
    groups: dict = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p)
             and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths):
        stage_group: dict = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[(path, ev["Job ID"])] = {
                        "group": g, "start": ev["Submission Time"],
                        "end": None}
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((path, ev["Job ID"]))
                    if j is not None:
                        j["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = groups.setdefault(g, {
                        "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0,
                        "gc_ms": 0.0, "shuffle_bytes": 0,
                        "python_ms": 0.0})
                    acc["tasks"] += 1
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["python_ms"] += _python_ms(ev)
    by_group = {}
    for j in jobs.values():
        if j["group"] is not None:
            by_group.setdefault(j["group"], []).append(j)
    return by_group, groups


def _python_ms(ev: dict) -> float:
    """Python-worker run time of one task (ms): the "time to run
    Python workers" SQL metric of the task's Python exec nodes."""
    total = 0.0
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if (a.get("Name") or "").lower() == "time to run python workers":
            total += float(a.get("Update") or 0)
    return total


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_stats(spans: list[dict], jobs: dict, groups: dict) -> dict:
    """span id -> inclusive stats {ms, self_ms, jobs, tasks, cpu_ms,
    gc_ms, shuffle_bytes, python_ms, driver_only_ms}."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict = {}

    def visit(s: dict) -> dict:
        g = f"pb-{s['id']}"
        own_jobs = jobs.get(g, [])
        # the event log is complete once the session has stopped; the
        # status tracker, read at span end, can miss a job the listener
        # bus has not delivered yet, so it is only the fallback
        st = {"jobs": len(own_jobs) if jobs else len(s.get("job_ids", ())),
              "intervals": [(j["start"], j["end"] or j["start"])
                            for j in own_jobs]}
        for k, v in groups.get(g, {}).items():
            st[k] = v
        kids = children.get(s["id"], [])
        for c in kids:
            cs = visit(c)
            for k in ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes",
                      "python_ms"):
                st[k] = st.get(k, 0) + cs.get(k, 0)
            st["intervals"] = st["intervals"] + cs["intervals"]
        start, end = s["start"] * 1000, s["end"] * 1000
        st["ms"] = end - start
        st["self_ms"] = st["ms"] - _union_ms(
            (c["start"] * 1000, c["end"] * 1000) for c in kids)
        inside = [(max(a, start), min(b, end)) for a, b in st["intervals"]
                  if min(b, end) > max(a, start)]
        st["driver_only_ms"] = st["ms"] - _union_ms(inside)
        out[s["id"]] = st
        return st

    for s in children.get(None, []):
        visit(s)
    return out


def self_time_table(spans: list[dict], stats: dict) -> list[tuple]:
    """(name, calls, total ms, self ms, jobs) per span name, by self
    time descending: where the traced run's wall time went."""
    rows: dict = {}
    for s in spans:
        st = stats[s["id"]]
        r = rows.setdefault(s["name"], [0, 0.0, 0.0, 0])
        r[0] += 1
        r[1] += st["ms"]
        r[2] += st["self_ms"]
        r[3] += len(s.get("job_ids", ()))
    return sorted(((n, *r) for n, r in rows.items()), key=lambda t: -t[3])


# ------------------------------------------------------- per-layer
def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], stats: dict,
                  extra: dict) -> dict[str, float]:
    """Per-layer metric values (the `per_layer` list of BENCHMARK.json)
    from the spans.

    Time metrics are per-call medians; counts and executor totals are
    per-call means. For a layer `L` whose result the benchmark then
    collects or writes, that follow-up runs in span `L.execute`:
    `define_ms` times the call, `execute_ms` the follow-up, and
    `jobs`/`tasks`/executor totals add both. `eager_jobs` counts the
    jobs that ran before the call returned."""
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def st(name, key):
        return [stats[s["id"]].get(key, 0) for s in by_name.get(name, ())]

    out: dict[str, float] = {}
    names = {s["name"] for s in spans}
    for name in names:
        if name.endswith(".execute"):
            continue
        ex = name + ".execute"
        out[f"{name}.define_ms"] = _median(st(name, "ms"))
        out[f"{name}.ms"] = _median(
            [a + b for a, b in zip(st(name, "ms"), st(ex, "ms"))]
            if ex in names else st(name, "ms"))
        out[f"{name}.s"] = out[f"{name}.ms"] / 1000.0
        out[f"{name}.execute_ms"] = _median(st(ex, "ms"))
        out[f"{name}.self_ms"] = _median(st(name, "self_ms"))
        out[f"{name}.eager_jobs"] = _mean(st(name, "jobs"))
        for key, metric in (("jobs", "jobs"), ("tasks", "tasks"),
                            ("cpu_ms", "executor_cpu_ms"),
                            ("gc_ms", "gc_ms"),
                            ("shuffle_bytes", "shuffle_bytes"),
                            ("python_ms", "python_ms")):
            out[f"{name}.{metric}"] = _mean(st(name, key)) + _mean(st(ex, key))
        out[f"{name}.driver_only_ms"] = _median(
            st(name, "driver_only_ms")) + _median(st(ex, "driver_only_ms"))

    for name in MEMO_LAYERS:
        calls = by_name.get(name, ())
        out[f"{name}.memo_hit_ratio"] = (
            sum(bool(s.get("memo_hit")) for s in calls) / len(calls)
            if calls else 0.0)

    # per-operation Spark totals over the traced measured operations
    ops = [s for s in spans if s["kind"] == "op"]
    for key, metric in (("jobs", "jobs"), ("tasks", "tasks"),
                        ("cpu_ms", "executor_cpu_ms"), ("gc_ms", "gc_ms"),
                        ("shuffle_bytes", "shuffle_bytes"),
                        ("driver_only_ms", "driver_only_ms")):
        out[f"spark.{metric}_per_op"] = _mean(
            [stats[s["id"]].get(key, 0) for s in ops])
    out["trace.spans_per_op"] = (
        sum(1 for s in spans if s["request"] is not None) / len(ops)
        if ops else 0.0)
    out.update(extra)
    return out
