"""The benchmark's own tests: generator determinism, the percentile and
quartile maths, and metric names against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests

They need no JVM and no build.
"""
import collections
import hashlib
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SIZES = gen.table_sizes(run.SF, run.N_DOCUMENTS, run.N_EMBEDDINGS)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Generator(unittest.TestCase):
    def test_same_seed_same_ops(self):
        self.assertEqual(gen.agent_ops(7, SIZES, 8), gen.agent_ops(7, SIZES, 8))
        self.assertNotEqual(gen.agent_ops(7, SIZES, 8), gen.agent_ops(8, SIZES, 8))

    def test_same_seed_same_batch_orders(self):
        with tempfile.TemporaryDirectory() as d:
            a = run.make_plan("batch", 3, 5, 0, os.path.join(d, "a"), SIZES)[0]["passes"]
            b = run.make_plan("batch", 3, 5, 0, os.path.join(d, "b"), SIZES)[0]["passes"]
            c = run.make_plan("batch", 4, 5, 0, os.path.join(d, "c"), SIZES)[0]["passes"]
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_same_tables(self):
        def digest(seed, d):
            gen.make_tables(d, seed, 0.001, 50, 40)
            h = hashlib.sha1()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()
        with tempfile.TemporaryDirectory() as d:
            a = digest(5, os.path.join(d, "a"))
            b = digest(5, os.path.join(d, "b"))
            c = digest(6, os.path.join(d, "c"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_every_unit_holds_the_fixed_mix(self):
        ops = gen.agent_ops(3, SIZES, 8)
        units = collections.defaultdict(list)
        for op in ops:
            units[op["block"]].append(op)
        for u, uops in units.items():
            recall = collections.Counter(o["op"] for o in uops if o["phase"] == "recall")
            # every kind equally often
            want = collections.Counter({kind: gen.PER_KIND for kind in gen.RECALL_KINDS})
            if u % gen.RARE_EVERY == 0:
                want["walk"] += 1
            if u % gen.RARE_EVERY == gen.RARE_EVERY // 2:
                want["conflict"] += 1
            self.assertEqual(recall, want)
            revise = [o["op"] for o in uops if o["phase"] == "revise"]
            self.assertEqual(revise[1::2], gen.REVISE_SCRIPT)
            # the plain revise reads differ only in plan depth
            plain = [o for o in uops if o["phase"] == "revise" and "ack" not in o]
            self.assertEqual([o["step"] for o in plain], list(range(len(gen.REVISE_SCRIPT))))
            self.assertTrue(all(o["op"] == "node" and o["id"].startswith("fact:")
                                for o in plain))

    def test_three_units_meet_the_read_floor(self):
        # every run holds at least MIN_READS reads (a p90 with ten samples
        # beyond it) after the same number of whole units
        ops = gen.agent_ops(2, SIZES, 3)
        reads = [o for o in ops if "ack" not in o]
        self.assertGreaterEqual(len(reads), run.MIN_READS)
        self.assertGreaterEqual(len(reads) - int(len(reads) * 0.9), 10)

    def test_absent_keys_and_recent_skew(self):
        ops = gen.agent_ops(11, SIZES, 400)
        recall = [o["id"] for o in ops if o["op"] == "node" and o["phase"] == "recall"]
        absent = sum(1 for i in recall if int(i.rsplit(":", 1)[1]) >= 10**9)
        # one node read in six names no node: PER_KIND of them a unit
        self.assertEqual(absent, 400 * gen.PER_KIND // len(gen.RECALL_KINDS["node"]))
        nodes = [o["id"] for o in ops if o["op"] == "node"]
        facts = [int(i[5:]) for i in nodes if i.startswith("fact:") and int(i[5:]) < 10**9]
        newest_tenth = sum(1 for k in facts if k >= 0.9 * SIZES["documents"]) / len(facts)
        self.assertGreater(newest_tenth, 0.3)   # uniform would give 0.1


    def test_every_argument_class_is_warmed_up(self):
        warm = {(o["op"], o.get("etype")) for o in gen.warmup_ops(1, SIZES)}
        timed = {(o["op"], o.get("etype")) for o in gen.agent_ops(1, SIZES, 4)
                 if o["phase"] == "recall" and o["op"] not in ("walk", "conflict")}
        self.assertEqual(timed - warm, set())


class Maths(unittest.TestCase):
    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(sum(1 for x in xs if x > stats.percentile(xs, 90)), 10)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2)

    def test_hd_median(self):
        self.assertEqual(stats.hd_median([5.0]), 5.0)
        self.assertAlmostEqual(stats.hd_median([1.0, 3.0]), 2.0)
        self.assertAlmostEqual(stats.hd_median(list(range(1, 102))), 51.0)
        # two clusters: moving one sample across the gap moves the sample
        # median from one cluster to the other, the estimate only a little
        lo, hi = [100.0] * 50, [200.0] * 50
        a = stats.hd_median(lo + [100.0] + hi)
        b = stats.hd_median(lo + [200.0] + hi)
        self.assertEqual((stats.percentile(lo + [100.0] + hi, 50),
                          stats.percentile(lo + [200.0] + hi, 50)), (100.0, 200.0))
        self.assertLess(b - a, 20.0)

    def test_iqr_share_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.5, 10.5, 12.5, 11.5, 10.2, 11.8]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / statistics.median(xs))
        self.assertEqual(stats.iqr_share([2.0] * 10), 0.0)

    def test_slope_and_drift(self):
        self.assertAlmostEqual(stats.slope([0, 1, 2, 3], [1, 3, 5, 7]), 2.0)
        self.assertEqual(stats.slope([1, 1], [2, 5]), 0.0)
        self.assertAlmostEqual(stats.drift_ratio([1, 1, 1, 1, 2, 2, 2, 2]), 2.0)


def fake_result(workload, ops, trace=False, overhead_ms=0.0):
    """A minimal JVM result: the measured units (copy 0), and for a traced
    run the overhead pair (copy 1), its traced copy slower by
    `overhead_ms`."""
    recs, units = [], []
    copies = [(0, trace)] + ([(1, False), (1, True)] if trace else [])
    for copy, traced in copies:
        extra = overhead_ms if copy == 1 and traced else 0.0
        if workload == "agent":
            for op in ops:
                if copy == 1 and op["block"] != 0:
                    continue
                rec = {"i": op["i"], "block": op["block"], "traced": traced, "copy": copy,
                       "ms": 10.0 + op["i"] + extra, "ok": True, "rows": []}
                if "ack" in op:
                    rec["write_ms"] = 1.0
                recs.append(rec)
            blocks = sorted({op["block"] for op in ops}) if copy == 0 else [0]
        else:
            # corpus calls far faster than the graph algorithms
            for j, q in enumerate(run.GRAPH_QUERIES + run.CORPUS_QUERIES):
                ms = 1000.0 + 100 * j if q in run.GRAPH_QUERIES else 1.0
                recs.append({"i": len(recs), "q": q, "block": 0, "traced": traced,
                             "copy": copy, "ms": ms + extra, "ok": True,
                             "cached_bytes": 1e6, "sweep_ms": 1.0})
            blocks = [0]
        units += [{"unit": b, "s": 5.0, "traced": traced, "copy": copy} for b in blocks]
    counters = {str(r["i"]): {"jobs": 2, "stages": 3, "tasks": 8, "run_ms": 20,
                              "gc_ms": 0, "shuffle_read": 100, "shuffle_write": 100,
                              "spill": 0} for r in recs if r["traced"] and not r["copy"]}
    spans = [["op.x", r["i"], -1, 0.0, 5.0] for r in recs if r["traced"] and not r["copy"]]
    return {"session_s": 4.0, "layout_reps_s": [3.0, 2.0, 2.5], "diskcache_s": 1.0,
            "warmup_s": 2.0, "at_rest_bytes": 2e6, "graph_layout_bytes": 1e6,
            "gc_ms": 5, "ops": recs, "units": units, "counters": counters,
            "spans": spans}


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match(self):
        s = spec()
        names = {m["name"] for m in s["end_to_end"]}
        ops = gen.agent_ops(1, SIZES, 2)
        for workload, o in (("agent", ops), ("batch", None)):
            res = fake_result(workload, o)
            got = metrics.end_to_end(res)
            self.assertEqual(set(got), names)
            self.assertTrue(all(v > 0 for v in got.values()), got)

    def test_per_layer_names_match(self):
        s = spec()
        names = [m["name"] for m in s["per_layer"]]
        ops = gen.agent_ops(1, SIZES, 2)
        for workload, o in (("agent", ops), ("batch", None)):
            res = fake_result(workload, o, trace=True)
            got, side = metrics.per_layer(res, o, names, run.CORES)
            self.assertEqual(list(got), names)
            self.assertIn("tracing_overhead", side)

    def test_tracing_overhead_is_measured_from_both_copies(self):
        names = [m["name"] for m in spec()["per_layer"]]
        for workload, o in (("agent", gen.agent_ops(1, SIZES, 2)), ("batch", None)):
            got, side = metrics.per_layer(fake_result(workload, o, True, 3.0), o, names,
                                          run.CORES)
            self.assertAlmostEqual(got["trace.read_p50_overhead_ms"], 3.0)
            # the untraced side is the first unit alone
            first = [op for op in o if op["block"] == 0] if o else None
            self.assertAlmostEqual(
                side["tracing_overhead"]["read_p50_ms"]["untraced"],
                metrics.end_to_end(fake_result(workload, first))["read_p50_ms"])

    def test_batch_read_p50_is_over_the_graph_algorithms(self):
        got = metrics.end_to_end(fake_result("batch", None))
        graph = [1000.0 + 100 * j for j in range(len(run.GRAPH_QUERIES))]
        self.assertAlmostEqual(got["read_p50_ms"], stats.hd_median(graph))
        self.assertAlmostEqual(got["read_p50_ms"], 1350.0, places=6)

    def test_every_batch_query_has_a_layer_metric(self):
        names = {m["name"] for m in spec()["per_layer"]}
        for q in run.GRAPH_QUERIES + run.CORPUS_QUERIES:
            self.assertIn(metrics.layer_metric(q), names)

    def test_layer_map_covers_every_per_layer_metric(self):
        with open(os.path.join(BENCH, "layers.json")) as f:
            layers = json.load(f)
        s = spec()
        e2e = {m["name"] for m in s["end_to_end"]}
        workloads = {w["name"] for w in s["workloads"]}
        self.assertEqual(set(layers), {m["name"] for m in s["per_layer"]})
        for name, entry in layers.items():
            self.assertTrue(set(entry["moves"]) <= e2e, name)
            self.assertTrue(set(entry["workloads"]) <= workloads, name)


class Contract(unittest.TestCase):
    """BENCHMARK.json within the limits the benchmark is accepted on."""

    def test_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        # a two-sided comparison (10 + 10 runs a workload per side, plus a
        # few more) at ~65 s a run and two builds fits in under an hour
        runs = 4 + 22 * len(s["workloads"])
        self.assertLess(runs * 65 + 2 * 60, 3600)
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in s[k]]
        self.assertEqual(len(names), len(set(names)))
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in s["workloads"]})


if __name__ == "__main__":
    unittest.main()
