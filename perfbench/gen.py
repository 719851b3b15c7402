"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes files; the same seed gives
byte-identical files. Each returns a manifest dict recording the
sizes and skew it produced, so a run's report states its inputs.

- ``maplejuice``: the paper's two apps over plain text. A web-graph
  edge list ``from,to`` with a power-law in-degree (ranks drawn from a
  truncated Zipf law, so node ids 1..50 keep a few percent of edges),
  and 3-column ballots drawn from a seeded preference profile over
  five candidates. Even seeds plant a Condorcet winner; odd seeds plant
  a three-way majority cycle, which the election resolves as a tie.
- ``tables``: the parquet tables the declared graph, dedup, retrieval
  and pipeline queries read (customer, supplier, orders, lineitem,
  documents, embeddings), with the column types and value domains of
  the engine's test fixtures. The embeddings table does not depend on
  the seed (see ``embeddings``).
"""
import datetime
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

SHARDS = 4
CANDIDATES = ["Alice", "Bobby", "Carol", "David", "Erika"]
WG_LO, WG_HI = 1, 50
WG_NODES = 1_000_000
WG_ZIPF = 0.7
WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter "
         "fast spark line small customer group").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EMBEDDINGS_SEED = 1
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def _zipf_ranks(rng, n, nodes, s):
    """Continuous inverse-CDF sample of a Zipf(s) law over 1..nodes."""
    a = 1.0 - s
    u = rng.random(n)
    x = (1.0 + u * (nodes ** a - 1.0)) ** (1.0 / a)
    return np.minimum(np.floor(x).astype(np.int64), nodes)


def web_graph(out, seed, target_bytes):
    """Edge shards whose total size is close to ``target_bytes``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    # ~13.7 bytes per "from,to\n" line at 10^6 nodes
    n = int(target_bytes / 13.7)
    to = _zipf_ranks(rng, n, WG_NODES, WG_ZIPF)
    frm = rng.integers(1, WG_NODES + 1, n)
    per = -(-n // SHARDS)
    opts = pacsv.WriteOptions(include_header=False)
    for i in range(SHARDS):
        sl = slice(i * per, (i + 1) * per)
        pacsv.write_csv(pa.table({"f": frm[sl], "t": to[sl]}),
                        os.path.join(out, f"part-{i}.txt"), opts)
    hit = (to >= WG_LO) & (to <= WG_HI)
    deg = np.bincount(to)
    top = np.sort(deg)[::-1]
    return {"lines": n, "bytes": _dir_bytes(out), "nodes": WG_NODES,
            "zipf_s": WG_ZIPF, "range": [WG_LO, WG_HI],
            "edges_in_range": int(hit.sum()),
            "in_range_frac": round(float(hit.mean()), 6),
            "max_in_degree": int(top[0]),
            "top10_share": round(float(top[:10].sum() / n), 6)}


def ballot_profile(seed):
    """Probabilities of the 60 ordered candidate triples, and the shape
    planted: a Condorcet winner on even seeds, a majority cycle among
    three candidates on odd ones (the election then ends in a tie).

    Each of the 10 candidate subsets gets a tenth of the ballots, so
    every pair key of the election sees the same share on every seed
    and the shuffle's per-key load does not depend on the seed. Within a
    subset, 80% of its ballots follow the planted orders (the rest are
    uniform), with ±10% seeded jitter per order."""
    rng = np.random.default_rng([seed, 2])
    a, b, c, d, e = rng.permutation(5)
    if seed % 2 == 0:
        shape = "winner:" + CANDIDATES[a]

        def planted(p):
            return a not in p or p[0] == a
    else:
        shape = "cycle:" + ",".join(CANDIDATES[x] for x in (a, b, c))
        beats = {(a, b), (b, c), (c, a)}

        def planted(p):
            # cycle members above d and e, in cycle order among themselves
            top = [x for x in p if x in (a, b, c)]
            ranked = all(x in (a, b, c) for x in p[:len(top)])
            if len(top) == 3:
                return (p[0], p[1]) in beats and (p[1], p[2]) in beats
            return ranked and (len(top) < 2 or (top[0], top[1]) in beats)
    triples, probs = [], []
    for sub in itertools.combinations(range(5), 3):
        perms = list(itertools.permutations(sub))
        fav = [planted(p) for p in perms]
        w = np.array([0.2 / 6 + (0.8 / sum(fav) if f else 0.0) for f in fav])
        w *= rng.uniform(0.9, 1.1, len(w))
        triples += perms
        probs += list(w / w.sum() / 10)
    return triples, np.array(probs), shape


def ballots(out, seed, target_bytes):
    triples, p, shape = ballot_profile(seed)
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    # every name has 5 letters, so each line is exactly 18 bytes
    lines = np.array([list((",".join(CANDIDATES[x] for x in t) + "\n")
                           .encode()) for t in triples], dtype=np.uint8)
    n = int(target_bytes / lines.shape[1])
    idx = rng.choice(len(triples), size=n, p=p)
    per = -(-n // SHARDS)
    for i in range(SHARDS):
        with open(os.path.join(out, f"part-{i}.txt"), "wb") as f:
            f.write(lines[idx[i * per:(i + 1) * per]].tobytes())
    return {"lines": n, "bytes": _dir_bytes(out), "profile": shape,
            "candidates": len(CANDIDATES)}


def maplejuice(out, seed, target_bytes):
    return {"edges": web_graph(os.path.join(out, "edges"), seed, target_bytes),
            "ballots": ballots(os.path.join(out, "ballots"), seed, target_bytes)}


def _ts(rng, n, start, end):
    d0 = datetime.datetime(*start)
    days = (datetime.datetime(*end) - d0).days
    base = np.datetime64(d0, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _documents(rng, n):
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates: an earlier document's text plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return texts


def embeddings(out, n):
    """Random unit vectors in 64 dimensions, the same for every seed: the
    DuckDB oracles of the LSH-based vector queries take minutes at this
    size, so their expected results are computed once (expected.py), and
    the cost of those queries depends on how the vectors share LSH
    buckets, which a per-seed draw would change by up to 1.6x."""
    rng = np.random.default_rng([EMBEDDINGS_SEED, 5])
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def tables_rows(sf):
    """Row counts at scale factor ``sf``, as in the fixtures."""
    return {"customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
            "orders": int(1_500_000 * sf), "lineitem": int(6_000_000 * sf),
            "part": int(200_000 * sf), "documents": int(50_000 * sf),
            "embeddings": min(int(50_000 * sf), 2000)}


def tables(out, seed, sf):
    """The six fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out, exist_ok=True)
    rows = tables_rows(sf)
    n_cust, n_supp, n_ord, n_line, n_part, n_doc, n_emb = (rows[t] for t in (
        "customer", "supplier", "orders", "lineitem", "part", "documents",
        "embeddings"))
    sizes = {}
    ck = np.arange(n_cust, dtype=np.int64)
    sizes["customer"] = _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    sizes["supplier"] = _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    sizes["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    sizes["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, n_line, (1995, 1, 2), (2001, 11, 4))})
    texts = _documents(rng, n_doc)
    sizes["documents"] = _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    sizes["embeddings"] = embeddings(out, n_emb)
    del rows["part"]  # no part table: only the range of l_partkey
    return {"sf": sf, "rows": rows, "bytes": sizes}
