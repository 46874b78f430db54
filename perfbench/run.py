#!/usr/bin/env python3
"""graft benchmark: one command, two workloads (agent, batch).

    python3 perfbench/run.py --workload agent --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark's Scala side with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run then

  1. generates the tables and the op list from --seed (perfbench/gen.py),
  2. starts one JVM (local[4], graft's default session confs) in a cache
     root of its own, which sets up the at-rest state and runs the
     workload for --seconds (perfbench/src),
  3. checks every timed answer against DuckDB (perfbench/oracle.py),
  4. prints one JSON line: correct, attempted, failed and the metrics
     named in BENCHMARK.json (end-to-end ones with --trace 0, per-layer
     ones with --trace 1).

A traced run then runs its first unit twice more, untraced and traced, for
the tracing overhead, and writes the per-layer table (counters, span self
times, tracing overhead) to perfbench/.work/results/. A failed run keeps
its directory, JVM log included, under perfbench/.work/runs/. Nothing is
read or written outside the checkout except the build tools' own caches.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
from oracle import Oracle, same_rows  # noqa: E402

# Sizes of one run's inputs. Scale factor 0.005 of graft's TPC-H-ish
# tables gives a memory graph of ~15k nodes and ~48k edges: every op
# still does real scans and shuffles (a batch pass moves tens of MB
# through shuffle), and set-up plus measurement fit one run in about a
# minute, so the 48 runs of a two-workload comparison fit in an hour.
SF = 0.005
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 160

GRAPH_QUERIES = ["b14_connected_components", "b18_pagerank", "b23_triangle_count",
                 "b24_kcore", "b25_node_similarity", "b28_label_propagation",
                 "b15_path_centrality", "b21_shortest_paths"]
# 7 corpus ops (about 1 s each) and 8 graph algorithms (2-5 s a call)
CORPUS_QUERIES = ["c2_dedup_ngram_jaccard", "c5_dedup_embedding", "c13_ann_ivf",
                  "c36_bm25_retrieval", "c45_bpe_train", "d2_sessionize",
                  "d8_stream_corpus_dedup"]
# the batch workload's untimed warm-up: cheap graph and corpus queries
# outside the pass. Without it the first two or three calls of a cold JVM
# run 0.5-1.2 s slower than later, so the seeded call order, not the
# calls, would set read_p50_ms.
BATCH_WARMUP = ["b9_graph_stats", "b13_degree_centrality", "c3_dedup_minhash",
                "c24_quantized_ann"]

# agent runs go on past --seconds (to the end of a unit) until they hold
# this many reads, so their read p90 has at least ten samples beyond it
MIN_READS = 100
# cold graph-layout builds per run; setup_s takes their median
SETUP_REPS = 3
# op-list length in units (agent episodes, batch passes): more than any
# run gets through
WORKLOADS = {"agent": 60, "batch": 12}


class BenchError(Exception):
    pass


# --- build ---------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def source_hash():
    h = hashlib.sha1()
    for f in _source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Classpath of graft + the benchmark's Scala side, built with sbt when
    stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise BenchError("no graft sources next to perfbench/ (run from a graft checkout)")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "classpath.json")
    want = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("source") == want:
            return got["classpath"], want
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("sbt build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"source": want, "classpath": cp}, f)
    return cp, want


# --- plan and JVM ----------------------------------------------------------

def make_plan(workload, seed, seconds, trace, run_dir, sizes):
    units = WORKLOADS[workload]
    out = os.path.join(run_dir, "out")
    os.makedirs(out, exist_ok=True)
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
            "cores": CORES, "data": os.path.join(run_dir, "data"), "out": out,
            "setup_reps": SETUP_REPS, "min_reads": MIN_READS}
    if workload == "agent":
        ops = gen.agent_ops(seed, sizes, units)
        plan["ops"] = os.path.join(run_dir, "ops.json")
        with open(plan["ops"], "w") as f:
            json.dump(ops, f)
        plan["warmup"] = gen.warmup_ops(seed, sizes)
        plan["oracle_queries"] = ["b7_conflict_detect"]
    else:
        ops = None
        rng = random.Random(seed)
        plan["passes"] = [rng.sample(GRAPH_QUERIES + CORPUS_QUERIES,
                                     len(GRAPH_QUERIES + CORPUS_QUERIES))
                          for _ in range(units)]
        plan["warmup"] = BATCH_WARMUP
        plan["oracle_queries"] = GRAPH_QUERIES + CORPUS_QUERIES
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan, ops


def java_cmd(classpath, plan_path):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, "perfbench.Main", plan_path]


def run_jvm(classpath, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    log = open(log_path, "w")
    cmd = java_cmd(classpath, os.path.join(run_dir, "plan.json"))
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    # same process group as this runner, so whoever stops the runner's
    # group stops the JVM too
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    path = os.path.join(run_dir, "out", "result.json")
    where = f"see {os.path.relpath(log_path, ROOT)}"
    if not os.path.isfile(path):
        raise BenchError(f"JVM left no result (exit {proc.returncode}); {where}")
    with open(path) as f:
        res = json.load(f)
    if not res.get("complete"):
        raise BenchError(f"JVM failed ({where}): " + res.get("error", "")[:3000])
    return res


# --- checks ----------------------------------------------------------------

def check(workload, res, ops, run_dir):
    """Mark every timed op ok or not; returns the list of failures."""
    with open(os.path.join(run_dir, "out", "oracle_sql.json")) as f:
        sql = json.load(f)
    orc = Oracle(os.path.join(run_dir, "data"), sql, os.path.join(run_dir, "tmp"))
    bad = []
    if ops is None:
        for rec in res["ops"]:
            why = rec.get("error") or orc.check_batch(rec["q"], rec["out"])
            rec["ok"] = why is None
            if why:
                bad.append(f"{rec['q']} pass {rec['block']}: {why}")
        return bad
    by_id = {op["i"]: op for op in ops}
    copy = None
    for rec in res["ops"]:
        op = by_id[rec["i"]]
        # every unit, and each copy of it in a traced run, starts from the
        # persisted graph
        if (rec["block"], rec.get("copy"), rec.get("traced")) != copy:
            orc.reset()
            copy = (rec["block"], rec.get("copy"), rec.get("traced"))
        why = rec.get("error")
        if "ack" in op:
            orc.write(op)
            read = op["ack"]
        else:
            read = op
        if why is None:
            exp = orc.read(read)
            if not same_rows(rec["rows"], exp):
                why = f"answer differs: got {rec['rows'][:3]} want {exp[:3]}"
            elif read.get("mustExclude") and any(
                    r[1] == read["mustExclude"] for r in rec["rows"]):
                why = "invalidated id returned by a validOnly read"
        rec["ok"] = why is None
        if why:
            bad.append(f"op {rec['i']} {op['op']}: {why}"[:500])
    return bad


# --- main ------------------------------------------------------------------

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _results_path(workload, seed):
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-layers.json")


def _write_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def host_probe_ms():
    """Time of a fixed CPU-bound loop: a record of how fast the host was
    when the run started, to tell host drift from program changes."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t) * 1e3


def measure(args, spec, classpath, src):
    """One run: returns (result line, context line). The run directory is
    removed when the run completes and kept when it fails."""
    probe = host_probe_ms()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    done = False
    try:
        t = [time.time()]
        sizes = gen.make_tables(os.path.join(run_dir, "data"), args.seed, SF,
                                N_DOCUMENTS, N_EMBEDDINGS)
        _, ops = make_plan(args.workload, args.seed, args.seconds, args.trace,
                           run_dir, sizes)
        t.append(time.time())
        res = run_jvm(classpath, run_dir)
        t.append(time.time())
        bad = check(args.workload, res, ops, run_dir)
        t.append(time.time())
        done = True
    finally:
        if done:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            sys.stderr.write(f"perfbench: run directory kept: "
                             f"{os.path.relpath(run_dir, ROOT)}\n")
    if args.trace:
        values, side = metrics.per_layer(res, ops, [m["name"] for m in spec["per_layer"]],
                                         CORES)
        side.update(workload=args.workload, seed=args.seed, source_sha1=src)
        _write_json(_results_path(args.workload, args.seed), side)
        chosen = spec["per_layer"]
    else:
        values = metrics.end_to_end(res)
        chosen = spec["end_to_end"]
    line = {"correct": not bad, "attempted": len(res["ops"]), "failed": len(bad),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in chosen}}
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": os.cpu_count(), "cores": CORES, "sf": SF, "tables": sizes,
               "source_sha1": src, "git_commit": _git_commit(),
               "host_probe_ms": round(probe, 1),
               "read_p50_samples": len(metrics.read_latencies(
                   [r for r in res["ops"] if not r.get("copy")])),
               "phase_s": {k: round(b - a, 2) for k, a, b in
                           zip(("inputs", "jvm", "checks"), t, t[1:])},
               "failures": bad[:5]}
    return line, context


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    classpath, src = build()
    line, context = measure(args, spec, classpath, src)
    # context first: the result must be the last line of stdout
    print(json.dumps({"context": context}))
    print(json.dumps(line))
    return 0


def _git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    # a terminated runner still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
