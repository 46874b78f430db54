"""From the benchmark JVM's raw samples to the metrics named in BENCHMARK.json.

End-to-end metrics come from every op of an untraced run. Per-layer
metrics come from a traced run (spans and listener counters for every
op), which then runs its first unit twice more, untraced and traced, for
the tracing overhead; a per-layer metric a workload does not exercise is
reported as 0.
"""
import stats

READ_CLASS = {"node": "lookup", "findByName": "lookup", "findFactByContent": "lookup",
              "list": "list", "stats": "list", "exactSearch": "search",
              "semanticSearch": "semantic", "inNeighbors": "traverse",
              "outNeighbors": "traverse", "walk": "walk", "recentContext": "context",
              "conflict": "conflict"}

GRAPHALGO = {"b14_connected_components": "connected_components", "b18_pagerank": "pagerank",
             "b23_triangle_count": "triangle_count", "b24_kcore": "kcore",
             "b25_node_similarity": "node_similarity",
             "b28_label_propagation": "label_propagation",
             "b15_path_centrality": "path_centrality", "b21_shortest_paths": "shortest_paths"}


def layer_metric(query):
    """Per-layer metric name of a batch query's wall time."""
    if query in GRAPHALGO:
        return f"graphalgo.{GRAPHALGO[query]}_s"
    return f"{'streams' if query.startswith('d') else 'operators'}.{query}_s"


def is_read(rec):
    """A timed read: every batch call, every agent op but the writes."""
    return "ms" in rec and "write_ms" not in rec


def read_latencies(recs):
    """Latencies (ms) read_p50_ms is taken over: every agent read, and in
    a batch pass the eight graph algorithms only, so that the median is
    not an order statistic on the edge between the ~1 s corpus calls and
    the 2-5 s graph calls."""
    return [r["ms"] for r in recs
            if is_read(r) and ("q" not in r or r["q"] in GRAPHALGO)]


def _copy(res, traced, copy):
    """The op records and units of one copy of a run's units, untraced or
    traced: copy 0 is the measured units (untraced in an untraced run,
    traced in a traced one), copy 1 the traced run's overhead pair."""
    def mine(x):
        return x.get("traced", False) == traced and x.get("copy", 0) == copy
    return [r for r in res["ops"] if mine(r)], [u for u in res["units"] if mine(u)]


def end_to_end(res, traced=False, copy=0):
    """End-to-end metrics of a run: its set-up, and the op records and
    units (agent episodes, batch passes) of one copy, by default the
    measured units of an untraced run."""
    recs, units = _copy(res, traced, copy)
    wall = sum(u["s"] for u in units)
    return {
        "setup_s": (res["session_s"] + stats.median(res["layout_reps_s"])
                    + res["diskcache_s"] + res["warmup_s"]),
        "at_rest_mb": res["at_rest_bytes"] / 1e6,
        "read_p50_ms": stats.hd_median(read_latencies(recs)),
        "ops_per_s": sum(1 for r in recs if "ms" in r) / wall,
        "pass_s": stats.median([u["s"] for u in units]),
    }


def _p50(xs):
    return stats.median(xs) if xs else 0.0


def self_times(spans):
    """Total self time (ms) per span name: its duration minus its
    children's. Spans are [name, op, parent index, start ms, end ms]."""
    child = [0.0] * len(spans)
    for _, _, parent, a, b in spans:
        if parent >= 0:
            child[parent] += b - a
    own = {}
    for i, (name, _, _, a, b) in enumerate(spans):
        own[name] = own.get(name, 0.0) + (b - a) - child[i]
    return {k: round(v, 3) for k, v in sorted(own.items())}


def per_layer(res, ops, names, cores):
    """(values for every name in `names`, sidecar table) of a traced run.
    Layer values come from its measured units, the tracing overhead from
    its overhead pair."""
    m = dict.fromkeys(names, 0.0)
    by_id = {op["i"]: op for op in ops or ()}
    recs, units = _copy(res, True, 0)
    timed = [r for r in recs if "ms" in r]
    counters = res.get("counters", {})
    plan_ms = {}
    for name, op, _, a, b in res.get("spans", []):
        if name == "planning":
            plan_ms[op] = plan_ms.get(op, 0.0) + b - a

    if ops is not None:
        reads = [r for r in timed if is_read(r)]
        if reads:
            m["memorygraph.read.p90_ms"] = stats.percentile([r["ms"] for r in reads], 90)
        for cls in ("lookup", "list", "search", "semantic", "traverse", "walk", "context"):
            m[f"memorygraph.{cls}.p50_ms"] = _p50(
                [r["ms"] for r in reads if READ_CLASS[by_id[r["i"]]["op"]] == cls])
        writes = [r for r in timed if not is_read(r)]
        acks = [r["ms"] for r in writes]
        m["memorygraph.write.p50_ms"] = _p50([r["write_ms"] for r in writes])
        m["memorygraph.readback.p50_ms"] = _p50([r["ms"] - r["write_ms"] for r in writes])
        m["memorygraph.write_ack.p50_ms"] = _p50(acks)
        m["memorygraph.write_ack.p90_ms"] = stats.percentile(acks, 90) if acks else 0.0
        revise = [r for r in reads if by_id[r["i"]]["phase"] == "revise"]
        m["memorygraph.revise.depth_slope_ms"] = stats.slope(
            [by_id[r["i"]]["step"] for r in revise], [r["ms"] for r in revise])
    else:
        for q in {r["q"] for r in timed}:
            name = layer_metric(q)
            if name in m:
                m[name] = _p50([r["ms"] / 1e3 for r in timed if r["q"] == q])
        m["barriers.cached_mb"] = _p50([r["cached_bytes"] / 1e6 for r in timed])
        m["barriers.sweep_ms"] = _p50([r["sweep_ms"] for r in timed])

    m["planning.p50_ms"] = _p50([plan_ms.get(r["i"], 0.0) for r in timed])
    cs = [counters.get(str(r["i"]), {}) for r in timed]
    n_ops = max(1, len(cs))
    n_units = max(1, len(units))

    def total(k):
        return sum(c.get(k, 0) for c in cs)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = total(k) / n_ops
    m["spark.shuffle_read_mb"] = total("shuffle_read") / 1e6 / n_units
    m["spark.shuffle_write_mb"] = total("shuffle_write") / 1e6 / n_units
    m["spark.spill_mb"] = total("spill") / 1e6 / n_units
    busy_ms, wall_ms = total("run_ms"), sum(r["ms"] for r in timed)
    m["spark.task_busy_ratio"] = busy_ms / (wall_ms * cores) if wall_ms else 0.0
    m["spark.gc_ms"] = res["gc_ms"] / n_units
    m["session.drift_ratio"] = stats.drift_ratio([r["ms"] for r in timed])
    m["setup.session_s"] = res["session_s"]
    m["setup.graph_layout_s"] = stats.median(res["layout_reps_s"])
    m["setup.diskcache_s"] = res["diskcache_s"]
    m["setup.warmup_s"] = res["warmup_s"]
    m["diskcache.bytes_mb"] = (res["at_rest_bytes"] - res["graph_layout_bytes"]) / 1e6
    m["checks.error_rate"] = (sum(1 for r in res["ops"] if not r.get("ok"))
                              / max(1, len(res["ops"])))

    # tracing overhead: the end-to-end metrics of the overhead pair's
    # traced copy minus its untraced copy's: the same ops, both warm, in
    # the same JVM
    traced_e2e, untraced_e2e = end_to_end(res, True, 1), end_to_end(res, False, 1)
    overhead = {k: {"traced": traced_e2e[k], "untraced": untraced_e2e[k],
                    "traced_minus_untraced": traced_e2e[k] - untraced_e2e[k]}
                for k in ("read_p50_ms", "ops_per_s", "pass_s")}
    m["trace.read_p50_overhead_ms"] = overhead["read_p50_ms"]["traced_minus_untraced"]
    side = {
        "per_layer": m,
        "self_ms": self_times(res.get("spans", [])),
        "counters_by_op": counters,
        "tracing_overhead": overhead,
        "bases": {
            "spark.task_busy_ratio": f"executor run time {busy_ms} ms / (traced op wall "
                                     f"{wall_ms:.1f} ms x {cores} cores)",
            "spark.*_per_op": f"listener totals / {len(cs)} traced ops",
            "spark.{shuffle_read,shuffle_write,spill}_mb": f"listener totals / {n_units} "
                                                           "traced units",
            "spark.gc_ms": f"JVM GC time over the measured units / {n_units} units",
            "tracing_overhead": "the first unit run again, untraced and traced (order "
                                "by seed parity), both warm: traced minus untraced",
            "session.drift_ratio": "median latency of the last quarter of the run's ops / "
                                   "median of the first quarter",
            "checks.error_rate": "failed or wrong ops / ops attempted",
            "diskcache.bytes_mb": "at-rest bytes outside the graph layout",
        },
    }
    return m, side
