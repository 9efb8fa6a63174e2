"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
size write the same rows. Inputs land in a cache directory keyed by
workload, size and seed, so a second run with the same seed reuses them
and generation never falls inside a timed region.

- ``bug_dag``: the edge-event stream of ``etl_closure``. One base batch
  holds every edge of a bug-dependency DAG; each delta adds and deletes
  a few percent of the live edges, as MoDevETL's scheduled extract
  would see them, its deletes and its adds in two consecutive runs.
- ``corpus``: the documents and embeddings of ``corpus_prep``: novel
  documents with about 5% planted near-duplicates (the shape of
  ``tools/gen_fresh.py``, seeded), plus embeddings with planted
  near-duplicate vectors.
- ``tables``: the ten query-suite tables of ``query_mix`` (TPC-H-like
  star schema, events, documents, embeddings) with the column domains
  of the engine's test data. Fixed content, so the recorded per-query
  hashes hold for every run; the seed only orders the queries.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- etl_closure: the bug-dependency DAG -----------------------------------

PARENT_WINDOW = 300   # parents come from the previous few hundred bugs
P_PARENT = 0.75       # share of bugs that block an earlier bug
P_SECOND = 0.15       # share of those with a second parent (diamonds)
P_DELETE = 0.10       # share of delta events that delete a live edge

EVENT_SCHEMA = pa.schema([("child", pa.int64()), ("parent", pa.int64()),
                          ("op", pa.string()), ("seq", pa.int64())])


def _parents(rng, child, live):
    """One or two parents for a new bug, drawn from its window."""
    lo = max(0, child - PARENT_WINDOW)
    if child == 0 or rng.random() >= P_PARENT:
        return []
    ps = {int(rng.integers(lo, child))}
    if rng.random() < P_SECOND and child - lo > 1:
        ps.add(int(rng.integers(lo, child)))
    return [p for p in ps if (child, p) not in live]


def _layered_parents(rng, child, layer, size, live):
    """One or two parents for a bug of ``layer``, drawn from the bugs
    filed in the layer before it (the previous ``size`` to ``2*size``
    bugs), so that every path between two bugs has the same length.
    The first bug of each layer blocks the first bug of the layer
    before: that spine makes the depth ``layers - 1`` for every seed."""
    lo = (layer - 1) * size
    if layer > 0 and child == layer * size:
        return [lo]
    if layer == 0 or rng.random() >= P_PARENT:
        return []
    ps = {int(rng.integers(lo, lo + size))}
    if rng.random() < P_SECOND:
        ps.add(int(rng.integers(lo, lo + size)))
    return [p for p in ps if (child, p) not in live]


def _closure(live):
    """{(ancestor, descendant, depth)} with the shortest-path depth.
    Every parent has a smaller id than its child, so one pass in id
    order sees each parent's ancestors complete."""
    parents = {}
    for c, p in live:
        parents.setdefault(c, []).append(p)
    anc = {}
    for c in sorted(parents):
        d = {}
        for p in parents[c]:
            d[p] = 1
            for a, k in anc.get(p, {}).items():
                if d.get(a, k + 2) > k + 1:
                    d[a] = k + 1
        anc[c] = d
    return {(a, c, k) for c, d in anc.items() for a, k in d.items()}


def bug_dag(out, seed, bugs, deltas, delta_frac, layers=None, mixed=False):
    """Write base.parquet, the delta batches, final_edges.parquet and
    meta.json under ``out``. Every batch holds at most one event per
    edge, so a batch's event count is what the loop must report as
    extracted; ``seq`` is the watermark column.

    Each delta's deletes and adds arrive as two scheduled runs, deletes
    first (delta_NNN_del, delta_NNN_add). With ``mixed`` the same events
    arrive as one run (delta_NNN), the shape on which graft's
    closure-deletes loop loses closure pairs (see README.md).

    With ``layers`` the bugs are filed in that many equal layers and
    every edge joins consecutive layers: the base DAG's depth is
    ``layers - 1`` for every seed, so the number of rounds graft's
    closure loops take changes little with the seed, and each delta has
    the same number of events. Without it, parents come from the
    previous ``PARENT_WINDOW`` bugs and the depth varies with the seed."""
    rng = np.random.default_rng([seed, 1])
    live = set()
    size = -(-bugs // layers) if layers else 0
    for child in range(bugs):
        live.update((child, p) for p in (
            _layered_parents(rng, child, child // size, size, live) if layers
            else _parents(rng, child, live)))
    seq = 0
    batches = []
    closure = set()

    def emit(name, events):
        nonlocal seq, closure
        rows = {"child": [], "parent": [], "op": [], "seq": []}
        for child, parent, op in events:
            seq += 1
            rows["child"].append(child)
            rows["parent"].append(parent)
            rows["op"].append(op)
            rows["seq"].append(seq)
        pq.write_table(pa.table(rows, schema=EVENT_SCHEMA), f"{out}/{name}.parquet")
        # the closure rows the run must push (new or re-depthed pairs)
        # and delete (pairs no longer reachable)
        after = _closure(live)
        keys = {(a, d) for a, d, _ in after}
        batches.append({"file": f"{name}.parquet", "events": len(events),
                        "deletes": sum(1 for e in events if e[2] == "delete"),
                        "watermark": seq, "pushed": len(after - closure),
                        "deleted": sum(1 for a, d, _ in closure if (a, d) not in keys),
                        "closure_rows": len(after)})
        closure = after

    emit("base", [(c, p, "add") for c, p in sorted(live)])
    next_bug = bugs
    for k in range(1, deltas + 1):
        # drawn in both shapes, so that the window shape's events for a
        # seed are the ones README.md cites whatever the layered shape does
        jitter = rng.uniform(0.8, 1.2)
        n = max(2, int(len(live) * delta_frac * (1.0 if layers else jitter)))
        n_del = max(1, int(n * P_DELETE))
        touched = set()
        events = []
        ordered = sorted(live)
        for i in sorted(rng.choice(len(ordered), size=n_del, replace=False)):
            e = ordered[int(i)]
            events.append((e[0], e[1], "delete"))
            touched.add(e)
        while len(events) < n:
            if layers:
                # a newly filed bug that blocks bugs of the layer before
                # its own, or a new dependency between existing bugs
                if rng.random() < 0.5:
                    child = next_bug
                    next_bug += 1
                    layer = int(rng.integers(1, layers))
                else:
                    child = int(rng.integers(size, bugs))
                    layer = child // size
                ps = (_layered_parents(rng, child, layer, size, live)
                      or [int(rng.integers((layer - 1) * size, layer * size))])
            elif rng.random() < 0.5:
                # a newly filed bug that blocks an earlier one
                child = next_bug
                next_bug += 1
                ps = _parents(rng, child, live) or [int(rng.integers(child - PARENT_WINDOW, child))]
            else:
                # a new dependency between existing bugs
                child = int(rng.integers(1, next_bug))
                ps = [int(rng.integers(max(0, child - PARENT_WINDOW), child))]
            for p in ps:
                e = (child, p)
                if e not in live and e not in touched and len(events) < n:
                    events.append((child, p, "add"))
                    touched.add(e)
        runs = [(f"delta_{k:03d}", events)] if mixed else [
            (f"delta_{k:03d}_del", events[:n_del]), (f"delta_{k:03d}_add", events[n_del:])]
        for name, run in runs:
            for c, p, op in run:
                if op == "add":
                    live.add((c, p))
                else:
                    live.discard((c, p))
            emit(name, run)
    final = sorted(live)
    pq.write_table(pa.table({"child": pa.array([c for c, _ in final], pa.int64()),
                             "parent": pa.array([p for _, p in final], pa.int64())}),
                   f"{out}/final_edges.parquet")
    # the edge-state store keeps the latest event of every edge ever seen
    seen = set()
    for b in batches:
        t = pq.read_table(f"{out}/{b['file']}", columns=["child", "parent"])
        seen.update(zip(t.column("child").to_pylist(), t.column("parent").to_pylist()))
    return {"batches": batches, "live_edges": len(final), "edge_rows": len(seen)}


# --- corpus_prep: novel documents + embeddings ---------------------------

VOCAB = 30_000
TOPIC_WINDOW = 2000   # each document draws from its own vocabulary slice
NEAR_DUP_EVERY = 20   # ~5% of docs/vectors are a near-dup of their predecessor
# One replaced word per near-dup document: its word-3-gram Jaccard with
# the original stays above 0.9, where MinHash banding misses a pair with
# negligible probability, so "no planted pair survives" is a sound check.
PERTURB_WORDS = 1
LANGS = ["en", "de", "fr", "es", "pt"]
SOURCES = 8
DIM = 64


def _words(i):
    # letters only: the quality gate scores alphabetic words
    out = []
    while True:
        out.append(chr(ord("a") + i % 26))
        i //= 26
        if i == 0:
            return "q" + "".join(out)


def corpus(out, seed, docs, vecs):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([_words(i) for i in range(VOCAB)])
    probs = 1.0 / np.arange(1, TOPIC_WINDOW + 1, dtype=np.float64)
    probs /= probs.sum()
    lengths = rng.integers(60, 200, size=docs)
    offsets = rng.integers(0, VOCAB - TOPIC_WINDOW, size=docs)
    stops = np.array(["the", "a", "of", "and", "is", "in", "to", "it"])
    texts = [None] * docs
    for i in range(docs):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            base = texts[i - 1].split(" ")
            for j in rng.choice(len(base), size=PERTURB_WORDS, replace=False):
                base[int(j)] = vocab[int(rng.integers(0, VOCAB))]
            texts[i] = " ".join(base)
        else:
            window = vocab[offsets[i]:offsets[i] + TOPIC_WINDOW]
            words = window[rng.choice(TOPIC_WINDOW, size=lengths[i], p=probs)]
            # function words at a natural rate, so the stop-word rule passes
            mask = rng.random(lengths[i]) < 0.12
            words[mask] = stops[rng.integers(0, len(stops), size=int(mask.sum()))]
            texts[i] = " ".join(words)
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in range(docs)], pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, SOURCES, size=docs)],
                           pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(documents, f"{out}/documents.parquet", row_group_size=4096)
    pq.write_table(_embeddings(rng, vecs, planted=True), f"{out}/embeddings.parquet",
                   row_group_size=4096)
    return {"docs": docs, "planted_doc_dups": docs // NEAR_DUP_EVERY,
            "vecs": vecs, "planted_vec_dups": vecs // NEAR_DUP_EVERY}


def _embeddings(rng, n, planted):
    v = rng.standard_normal((n, DIM))
    if planted:
        for i in range(NEAR_DUP_EVERY - 1, n, NEAR_DUP_EVERY):
            v[i] = v[i - 1] + rng.standard_normal(DIM) * 0.02
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array((rng.integers(0, 10, size=n)).astype(np.int32))})


# --- query_mix: the query-suite tables ---------------------------------

TABLE_SEED = 20240101
WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
PART_ADJ = "small large red blue cold hot shiny rusty".split()
PART_NOUN = "widget bolt ring gear nut spring valve screw".split()


def _ts(rng, start, days, n, fractional):
    base = np.datetime64(start, "us")
    if fractional:
        off = np.sort(rng.integers(0, days * 86_400_000_000, size=n))
        return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))
    off = rng.integers(0, days, size=n) * 86_400_000_000
    return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))


def tables(out, sf):
    """The ten tables every ``SparkEntry.queries`` entry reads, with the
    domains of the engine's test data at scale factor ``sf``."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = max(150, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(200, int(200000 * sf)), max(1500, int(1500000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1000000 * sf))
    n_users, n_docs = max(15, int(15000 * sf)), max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, size=n), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY"][i] for i in rng.integers(0, 5, size=n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, size=n_part), rng.integers(0, 8, size=n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                   for i in rng.integers(0, 6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, size=n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord, False),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in rng.integers(0, 5, size=n_ord)]})
    okey = np.sort(rng.integers(0, n_ord, size=n_line))
    linenr = np.zeros(n_line, dtype=np.int32)
    for i in range(1, n_line):
        linenr[i] = linenr[i - 1] + 1 if okey[i] == okey[i - 1] else 0
    keep = linenr < 7
    okey, linenr = okey[keep], linenr[keep] + 1
    n_line = len(okey)
    perm = rng.permutation(n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm].astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line).astype(np.int64)),
        "l_linenumber": pa.array(linenr[perm].astype(np.int32)),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, size=n_line)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, size=n_line)],
        "l_shipdate": _ts(rng, "1995-01-02", 2500, n_line, False)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(rng, "2024-01-01", 30, n_ev, True),
        "user_id": pa.array(rng.integers(0, n_users, size=n_ev).astype(np.int64)),
        "event_type": [["click", "error", "purchase", "signup", "view"][i]
                       for i in rng.integers(0, 5, size=n_ev)],
        "value": money(0.01, 500.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, size=n_ev)]})
    texts = []
    for i in range(n_docs):
        if i % 18 == 17:
            # a planted near-duplicate of an earlier document
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w + ["dup"]))
        else:
            n = int(rng.integers(8, 92))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=n)))
    langs = ["en", "en", "de", "es", "fr", "zh", "en"]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    t["embeddings"] = _embeddings(rng, n_vecs, planted=False)
    for name, tb in t.items():
        pq.write_table(tb, f"{out}/{name}.parquet")
    return {name: tb.num_rows for name, tb in t.items()}


# --- cache ------------------------------------------------------------------

def cached(root, key, make):
    """Build ``make(dir)`` once into ``root/key``; reuse it afterwards.
    A half-written directory never counts: the build goes to a staging
    directory that is renamed into place only when complete."""
    final = os.path.join(root, key)
    if not os.path.exists(os.path.join(final, "meta.json")):
        stage = final + ".tmp"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        meta = make(stage)
        with open(os.path.join(stage, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(stage, final)
    with open(os.path.join(final, "meta.json")) as f:
        return final, json.load(f)


def describe(path):
    """(rows, bytes) of every parquet file directly under ``path``."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            out[name] = (pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
    return out
