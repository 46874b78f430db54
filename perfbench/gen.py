"""Seeded inputs for the graft benchmark: the parquet tables graft reads
and the op list the agent workload replays.

Everything here is a pure function of (seed, sizes): the same seed gives
byte-identical tables and the same op list. The tables follow the schema
of graft's TPC-H-ish star schema plus documents/embeddings/events
(see graft.model.Tables), so every graft query runs on them unchanged.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes per unit of scale factor, as in the TPC-H-ish generator
# graft is tested against (sf0.01: 1,500 customers, 15,000 orders, ...).
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}

WORDS = ("a the data spark table query join scan filter group sort merge "
         "hash key value row column batch stream window agg order line "
         "part customer small big fast slow vector").split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]


def table_sizes(sf, n_docs, n_emb):
    sizes = {k: max(1, int(round(v * sf))) for k, v in PER_SF.items()}
    sizes.update(region=5, nation=25, documents=n_docs, embeddings=n_emb)
    return sizes


def _ts(days_from, start):
    """Naive microsecond timestamps `start + days_from` (float days)."""
    base = np.datetime64(start, "us")
    return base + (np.asarray(days_from) * 86_400e6).astype("int64").astype(
        "timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as dedup would see it
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def make_tables(out, seed, sf, n_docs, n_emb):
    """Write the ten parquet tables for `seed` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n = table_sizes(sf, n_docs, n_emb)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5), i32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                      "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25), i32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), f64)})
    p = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, p)],
        "p_type": [PTYPES[j] for j in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 2), f64)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, o)],
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o), f64),
        "o_orderdate": pa.array(_ts(rng.integers(0, 1500, o), "1995-01-01"), ts),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, li)],
        "l_shipdate": pa.array(_ts(rng.integers(1, 2500, li), "1995-01-01"), ts)})
    d = n["documents"]
    texts = _documents(rng, d)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), d)],
        "source": [f"src{j}" for j in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    e = n["events"]
    users = max(2, e // 66)
    gaps = rng.exponential(30.0 / e, e)
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(_ts(np.cumsum(gaps), "2024-01-01"), ts),
        "user_id": pa.array(rng.integers(0, users, e), i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, e)],
        "value": pa.array(_money(rng, 0.01, 500, e), f64),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, e)]})
    return n


# --- agent op lists -------------------------------------------------------

# One unit (episode) of the agent workload has two phases, both from one
# client that waits on every reply:
#   recall: PER_KIND reads of every kind in RECALL_KINDS, in a seeded
#     order, on the persisted graph. The kinds are mie's agent read calls,
#     weighted equally: no record of mie's real call mix exists to weight
#     them by, so this is a neutral assumption, not a measured one. Each kind's argument classes (node type, edge type,
#     list filter) are cycled through from unit to unit; the seed picks
#     the keys. So every unit does the same kinds of work for every seed.
#   revise: REVISE_SCRIPT's writes on a graph that starts as the persisted
#     one, each write followed by the read that must observe it (its
#     `ack`) and preceded by the same plain read, node(fact), so that the
#     plan depth (the writes so far) is the only thing that varies across
#     a unit's plain revise reads. The script is the same for every seed,
#     so every episode has the same plan depth.
POOLS = ("fact", "decision", "customer", "part", "event")
LIST_VARIANTS = [(None, False, "score", True), ("en", True, "id", False),
                 ("de", False, "score", False)]       # attr, validOnly, sort, desc
IN_EDGES = [("fact_entity", "customer"), ("decision_entity", "part"),
            ("invalidates", "event")]
OUT_EDGES = [("decision_entity", "decision"), ("fact_entity", "fact"),
             ("event_decision", "event")]
# kind -> its argument classes. One node class names no node: an absent
# key in one node read of six (an assumption, as is the skew below).
RECALL_KINDS = {
    "node": list(POOLS) + ["absent"],
    "findByName": [None],
    "findFactByContent": [None],
    "list": list(range(len(LIST_VARIANTS))),
    "exactSearch": ["digits", "word"],
    "semanticSearch": [None],
    "inNeighbors": list(range(len(IN_EDGES))),
    "outNeighbors": list(range(len(OUT_EDGES))),
    "recentContext": [None],
    "stats": [None],
}
PER_KIND = 3
# Rare ops: one walk (invalidation chain) and one conflict check every
# RARE_EVERY units, at a seeded slot of the recall phase.
RARE_EVERY = 4
# key rank ~ n * U^skew: small ranks = newest ids. Agents are assumed to
# recall recent memories more often; the strength is an assumption too.
RECENT_SKEW = 3.0
REVISE_SCRIPT = ["store", "invalidate", "updateAttr", "storeAll"]
REVISE_READ = ("node", "fact")


def recall_block(unit):
    """The (kind, argument class) reads of one unit's recall phase, before
    the seeded shuffle."""
    return [(kind, classes[(unit * PER_KIND + j) % len(classes)])
            for kind, classes in RECALL_KINDS.items() for j in range(PER_KIND)]


def _recent(rng, n):
    """Rank in [0, n) skewed toward 0 (the newest id)."""
    return min(n - 1, int(n * rng.random() ** RECENT_SKEW))


def _keys(n):
    """Id pools, newest first, for the graph graft derives from the tables."""
    return {
        "fact": [f"fact:{i}" for i in range(n["documents"] - 1, -1, -1)],
        "decision": [f"dec:{i}" for i in range(n["orders"] - 1, -1, -1)],
        "customer": [f"ent:c:{i}" for i in range(n["customer"] - 1, -1, -1)],
        "part": [f"ent:p:{i}" for i in range(n["part"] - 1, -1, -1)],
        "event": [f"evt:{i}" for i in range(n["events"] - 1, -1, -1)],
    }


def _pick(rng, keys, pool):
    return keys[pool][_recent(rng, len(keys[pool]))]


def read_op(rng, kind, variant, keys):
    """One read of `kind` and argument class `variant`, with seeded keys."""
    if kind == "node":
        if variant == "absent":
            return {"op": "node", "id": f"fact:{10**9 + int(rng.integers(0, 10**6))}"}
        return {"op": "node", "id": _pick(rng, keys, variant)}
    if kind == "findByName":
        return {"op": "findByName", "ntype": "entity",
                "name": f"Customer#{int(_pick(rng, keys, 'customer')[6:]):09d}"}
    if kind == "findFactByContent":
        # three random words: some phrases occur in no fact (a miss)
        return {"op": "findFactByContent",
                "q": " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 3))}
    if kind == "list":
        attr, valid, sort, desc = LIST_VARIANTS[variant]
        return {"op": "list", "ntype": "fact", "attr": attr, "sort": sort,
                "desc": desc, "limit": 20, "offset": int(rng.integers(0, 4)) * 10,
                "validOnly": valid}
    if kind == "exactSearch":
        q = (str(int(rng.integers(1, 100))) if variant == "digits" else
             ["Customer#0000001", "URGENT", "gear", "Supplier"][int(rng.integers(0, 4))])
        return {"op": "exactSearch", "q": q, "ntypes": ["decision", "entity"],
                "perType": 15}
    if kind == "semanticSearch":
        q = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 2))
        return {"op": "semanticSearch", "q": q,
                "ntypes": ["decision", "entity", "fact"], "perType": 5, "k": 10}
    if kind in ("inNeighbors", "outNeighbors"):
        etype, pool = (IN_EDGES if kind == "inNeighbors" else OUT_EDGES)[variant]
        return {"op": kind, "id": _pick(rng, keys, pool), "etype": etype}
    if kind == "walk":
        return {"op": "walk", "id": _pick(rng, keys, "event"),
                "etype": "invalidates", "maxHops": 64}
    if kind in ("recentContext", "stats", "conflict"):
        return {"op": kind}
    raise ValueError(kind)


def _write_op(rng, w, uid, keys):
    # new facts get the highest numeric ids, so recentContext ranks them
    # first, as mie does with the newest memories
    new_id = f"fact:{9 * 10**11 + uid}"
    if w == "store":
        return {"op": "store", "id": new_id, "ntype": "fact",
                "content": f"note {uid} " + " ".join(
                    WORDS[j] for j in rng.integers(0, len(WORDS), 6)),
                "attr": "en", "score": float(rng.integers(1, 500)),
                "edge": {"etype": "fact_entity", "dst": _pick(rng, keys, "customer")},
                "ack": {"op": "node", "id": new_id}}
    if w == "invalidate":
        old = _pick(rng, keys, "fact")
        return {"op": "invalidate", "old": old, "new": new_id,
                "reason": f"revised {uid}",
                "ack": {"op": "list", "ntype": "fact", "attr": None, "sort": "id",
                        "desc": True, "limit": 20, "offset": 0, "validOnly": True,
                        "mustExclude": old}}
    if w == "updateAttr":
        target = _pick(rng, keys, "decision")
        return {"op": "updateAttr", "id": target,
                "attr": ["F", "O", "P", "X"][int(rng.integers(0, 4))],
                "ack": {"op": "node", "id": target}}
    if w == "storeAll":
        rows = [{"id": f"fact:{9 * 10**11 + uid}{k}", "ntype": "fact",
                 "content": f"batch {uid} {k}", "attr": "de", "score": float(k)}
                for k in range(4)]
        return {"op": "storeAll", "nodes": rows, "ack": {"op": "recentContext"}}
    raise ValueError(w)


def agent_ops(seed, sizes, n_units):
    """The agent workload's op list: `n_units` episodes, each op tagged
    with its unit, its phase and (revise phase) the writes before it."""
    rng = np.random.default_rng([seed, 11])
    keys = _keys(sizes)
    ops = []

    def add(op, unit, phase, step):
        op.update(i=len(ops), block=unit, phase=phase, step=step)
        ops.append(op)

    for u in range(n_units):
        block = recall_block(u)
        rng.shuffle(block)
        if u % RARE_EVERY == 0:
            block.insert(int(rng.integers(0, len(block) + 1)), ("walk", None))
        if u % RARE_EVERY == RARE_EVERY // 2:
            block.insert(int(rng.integers(0, len(block) + 1)), ("conflict", None))
        for kind, variant in block:
            add(read_op(rng, kind, variant, keys), u, "recall", 0)
        for step, w in enumerate(REVISE_SCRIPT):
            add(read_op(rng, *REVISE_READ, keys), u, "revise", step)
            add(_write_op(rng, w, u * 100 + step, keys), u, "revise", step)
    return ops


def warmup_ops(seed, sizes):
    """One read of every kind and argument class of the recall phase (the
    rare ops and the writes pay their own first run), with keys drawn
    apart from the timed ops'."""
    rng = np.random.default_rng([seed, 17])
    keys = _keys(sizes)
    return [read_op(rng, kind, variant, keys)
            for kind, classes in RECALL_KINDS.items() for variant in classes]
