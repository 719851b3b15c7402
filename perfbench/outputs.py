"""Output checks, run after the timed window.

- Query results are compared with ``SparkEntry.oracleSql`` run in
  DuckDB over the same generated tables, by the rules of the repo's
  ``scripts/check.py``: same column set, same DuckDB column types, same
  row count, equal values row by row (its ``norm`` is reused). The few
  oracles too slow for a run compare against results stored by
  ``expected.py``.
- MapleJuice results are compared with an independent DuckDB count over
  the generated text, through an order-insensitive digest of their rows.
"""
import hashlib
import importlib.util
import itertools
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

import metrics

TABLES = ["customer", "supplier", "orders", "lineitem", "documents",
          "embeddings"]


def _repo_norm(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def connect(tmp, threads):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET threads={threads}")
    return con


def _stale(name, sql, expected, tables_dir):
    """Why the stored expectation of ``name`` does not apply, or None."""
    with open(os.path.join(expected, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(tables_dir, "embeddings.parquet"), "rb") as f:
        emb = hashlib.sha256(f.read()).hexdigest()
    if manifest["queries"].get(name) != hashlib.sha256(sql.encode()).hexdigest():
        return "stored expectation is stale: oracle SQL changed"
    if manifest["embeddings"] != emb:
        return "stored expectation is stale: embeddings changed"
    return None


def _compare(con, norm, out, expected_sql):
    st = con.sql(f"DESCRIBE SELECT * FROM '{out}'").df()
    dt = con.sql(f"DESCRIBE {expected_sql}").df()
    sc, dc = sorted(st["column_name"]), sorted(dt["column_name"])
    if sc != dc:
        return f"columns spark={sc} duck={dc}"
    stt = dict(st[["column_name", "column_type"]].values)
    dtt = dict(dt[["column_name", "column_type"]].values)
    bad = [c for c in sc if stt[c] != dtt[c]]
    if bad:
        return "dtypes " + ", ".join(
            f"{c}: spark={stt[c]} duck={dtt[c]}" for c in bad)
    s = con.sql(f"SELECT * FROM '{out}'").df()[sc].values.tolist()
    d = con.sql(expected_sql).df()[dc].values.tolist()
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    if not s:
        return "empty result proves nothing"
    for i, (a, b) in enumerate(zip(s, d)):
        if [norm(x) for x in a] != [norm(x) for x in b]:
            return f"row {i} spark={a} duck={b}"
    return None


def check_queries(con, root, tables_dir, results_dir, oracle, expected):
    """{query: None if it matches its oracle, else the reason}. Queries
    with a stored expectation (expected.py) compare against it; the
    others run their oracle SQL here, four at a time (one DuckDB thread
    each: most oracle plans are serial)."""
    norm = _repo_norm(root)
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{tables_dir}/{t}.parquet'")

    def one(item):
        name, sql = item
        stored = os.path.join(expected, f"{name}.parquet")
        try:
            if os.path.exists(stored):
                why = _stale(name, sql, expected, tables_dir)
                if why:
                    return name, why
                sql = f"SELECT * FROM '{stored}'"
            return name, _compare(con.cursor(), norm,
                                  f"{results_dir}/{name}/*.parquet", sql)
        except Exception as e:  # a query that cannot be checked fails
            return name, f"error: {str(e)[:300]}"

    with ThreadPoolExecutor(4) as pool:
        return dict(pool.map(one, sorted(oracle.items())))


def _files(dirpath, shard):
    return (f"{dirpath}/part-{shard}.txt" if shard is not None
            else f"{dirpath}/*.txt")


def expected_web_graph(con, edges_dir, shard, lo, hi):
    rows = con.sql(
        f"SELECT t, count(*) FROM read_csv('{_files(edges_dir, shard)}', "
        "header=false, columns={'f': 'BIGINT', 't': 'BIGINT'}) "
        f"WHERE t BETWEEN {lo} AND {hi} GROUP BY t").fetchall()
    return [f"{k}\t{c}" for k, c in rows]


def condorcet_result(ballot_counts):
    """The election of Workloads.condorcet, from {(a, b, c): count}:
    pairwise strict majority on the canonical ``min#max`` key, then a
    candidate beating all others wins, else every argmax co-winner."""
    ones, total = {}, {}
    for ballot, n in ballot_counts.items():
        for a, b in itertools.combinations(ballot, 2):
            key = (min(a, b), max(a, b))
            total[key] = total.get(key, 0) + n
            ones[key] = ones.get(key, 0) + (n if a < b else 0)
    beats = {}
    cands = set()
    for (x, y), t in total.items():
        w, l = (x, y) if ones[(x, y)] * 2 > t else (y, x)
        beats[w] = beats.get(w, 0) + 1
        cands |= {x, y}
    winners = [(c, d) for c, d in beats.items() if d == len(cands) - 1]
    if winners:
        kind = "condorcet_winner"
    elif beats:
        top = max(beats.values())
        winners, kind = [(c, d) for c, d in beats.items() if d == top], "tie_argmax"
    return [f"{c}\t{d}\t{kind}" for c, d in sorted(winners)]


def expected_condorcet(con, ballots_dir, shard):
    rows = con.sql(
        f"SELECT a, b, c, count(*) FROM read_csv('{_files(ballots_dir, shard)}', "
        "header=false, columns={'a': 'VARCHAR', 'b': 'VARCHAR', 'c': 'VARCHAR'}) "
        "GROUP BY ALL").fetchall()
    return condorcet_result({(a, b, c): n for a, b, c, n in rows})


def canonical_rows(op, rows):
    """Result rows of a MapleJuice op as tab-separated text: the pipe
    variant's ``key,count`` lines become ``key<TAB>count``."""
    return [r.replace(",", "\t") for r in rows] if op == "wg_pipe" else rows


def check_maplejuice(con, data_dir, ops, lo, hi):
    """Marks each op record with ``check``: None when its digest matches
    the DuckDB expectation for the input it ran on, else the reason."""
    cache = {}
    for o in ops:
        app = "edges" if o["name"].startswith("wg_") else "ballots"
        shard = 0 if o["pass"] == 0 else None
        key = (app, shard)
        if key not in cache:
            d = f"{data_dir}/{app}"
            exp = (expected_web_graph(con, d, shard, lo, hi) if app == "edges"
                   else expected_condorcet(con, d, shard))
            cache[key] = (metrics.digest(exp), len(exp))
        want, n = cache[key]
        if o["error"]:
            o["check"] = "op failed: " + o["error"]
            continue
        got = canonical_rows(o["name"], o["rows"])
        o["check"] = (None if metrics.digest(got) == want else
                      f"digest mismatch: {len(got)} rows vs {n} expected")
