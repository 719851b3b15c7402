#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
from source (once per checkout, cached under ``.bench_build/``),
generates the workload's inputs from the seed, runs the harness JVM
closed-loop with one client on ``local[4]``, checks every output
outside the timed window, and prints one JSON object as the last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's detailed report. See
README.md in this directory for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import outputs  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# table scale of the query workload: 1/10 of the repo's sf0.1 bench
# scale, so that set-up plus a window fits one run (README.md)
TABLES_SF = 0.01
MJ_BYTES = 100_000_000
HEAP = "3g"

QUERIES = ["q_graph_cc", "q_pagerank", "q_ppr", "q_nhop", "q_kcore",
           "q_labelprop", "q_modularity", "q_dedup_resolve",
           "q_entity_resolve", "q_dedup_embed_resolve", "q_dbscan",
           "q_pipeline_e2e", "q_mmr", "q_rfm"]
MJ_OPS = ["wg_columnar", "wg_typed", "wg_pipe", "condorcet_typed",
          "condorcet_columnar"]
WORKLOADS = {"maplejuice_100mb": MJ_OPS, "iterative_warm": QUERIES}
# nominal seconds of one pass on a 4-core host: the window runs
# round(--seconds / this) whole passes (at least one), a count that does
# not depend on how fast a run happens to go
PASS_S = {"maplejuice_100mb": 12, "iterative_warm": 9}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ── build ──

def _stamp():
    h = hashlib.sha256()
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for s in srcs:
        walk = ([(os.path.dirname(s), [], [os.path.basename(s)])]
                if os.path.isfile(s) else os.walk(s))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    h.update(p.encode() + fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and harness with sbt once per source state;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = (os.path.join(BUILD, f) for f in
                           ("classpath.txt", "stamp.txt"))
    stamp = _stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # every JVM the sbt launcher starts, its version probe included,
    # keeps its temp and perf-data files out of the shared /tmp
    os.makedirs(f"{BUILD}/tmp", exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS=(
        f"-XX:-UsePerfData -Djava.io.tmpdir={BUILD}/tmp"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.supershell=false", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=max(deadline - time.time(), 1))
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln]
    if p.returncode != 0 or not lines:
        fail("build failed:\n" + (p.stdout + p.stderr)[-3000:], 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ── one run ──

def run_harness(cp, workload, work, passes, trace, deadline,
                ops=None, expect="raw.json"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    args = [java] + [a for p in JDK_OPENS for a in
                     ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    args += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             "perfbench.Harness", f"workload={workload}",
             f"ops={','.join(ops or WORKLOADS[workload])}", f"data={work}/input",
             f"out={work}/out", f"local={work}/spark",
             f"exes={ROOT}/scripts/exes", f"passes={passes}",
             f"trace={int(trace)}"]
    env = dict(os.environ, GRAFT_SCRATCH_DIR=f"{work}/scratch")
    env.pop("SPARK_GRAFT_KEEP_CHECKPOINTS", None)
    with open(f"{work}/jvm.log", "w") as log:
        try:
            p = subprocess.run(args, env=env, stdin=subprocess.DEVNULL,
                               stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            fail("harness timed out", 1)
    if p.returncode != 0 or not os.path.exists(f"{work}/out/{expect}"):
        with open(f"{work}/jvm.log") as f:
            fail(f"harness exited {p.returncode}:\n" + f.read()[-3000:], 1)
    with open(f"{work}/out/{expect}") as f:
        return json.load(f)


def pass_input_bytes(workload, manifest):
    """Bytes of generated input one pass reads: each MapleJuice op reads
    its app's whole text input; the 14 queries together read all six
    generated tables."""
    if workload == "maplejuice_100mb":
        return sum(manifest["edges" if op.startswith("wg_") else
                            "ballots"]["bytes"] for op in MJ_OPS)
    return sum(manifest["bytes"].values())


def check(workload, work, raw):
    """Runs the output checks; returns {name: reason} of mismatches."""
    mj = workload == "maplejuice_100mb"
    con = outputs.connect(f"{work}/duckdb", 4 if mj else 1)
    if mj:
        outputs.check_maplejuice(con, f"{work}/input",
                                 raw["setup"] + raw["ops"], gen.WG_LO, gen.WG_HI)
        bad = {}
        for o in raw["setup"] + raw["ops"]:
            if o["check"]:
                bad.setdefault(o["name"], o["check"])
        return bad
    verdict = outputs.check_queries(
        con, ROOT, f"{work}/input", f"{work}/out/results", raw["oracle_sql"],
        os.path.join(HERE, "expected"))
    missing = set(WORKLOADS[workload]) - set(verdict)
    verdict.update({q: "no oracle SQL" for q in missing})
    return {q: r for q, r in verdict.items() if r}


def op_records(raw, build_layer):
    """Per-op counters and the span tree of a traced run."""
    off = raw["epoch_ms_at_nano0"]
    jobs_by_op, plans = {}, raw.get("plans", [])
    for j in raw.get("jobs", []):
        jobs_by_op.setdefault(int(j["op"]), []).append(j)
    spans = [{"id": 0, "parent": None, "name": "session", "op": None,
              "start": raw["session_start"], "end": raw["session_end"]}]

    def span(parent, name, op, s, e):
        spans.append({"id": len(spans), "parent": parent, "name": name,
                      "op": op, "start": s, "end": e})
        return spans[-1]

    records = []
    for o in raw["ops"]:
        oid = int(o["id"])
        root = span(None, "op", oid, o["start"], o["end"] + o["hygiene_ms"])
        b = span(root["id"], build_layer, oid, o["start"], o["build_end"])
        x = span(root["id"], "exec", oid, o["build_end"], o["end"])
        span(root["id"], "blocks", oid, o["end"], o["end"] + o["hygiene_ms"])
        jobs = jobs_by_op.get(oid, [])
        r = {"id": oid, "name": o["name"], "pass": o["pass"],
             "wall_ms": o["end"] - o["start"],
             "build_ms": o["build_end"] - o["start"],
             "exec_ms": o["end"] - o["build_end"],
             "hygiene_ms": o["hygiene_ms"], "blocks_mb": o["blocks_mb"],
             "gc_ms": o["gc_ms"],
             "builds": o["builds"], "jobs": len(jobs), "build_jobs": 0,
             "plan_ms": 0.0}
        for k in ("stages", "tasks", "run_ms", "cpu_ns", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            r[k] = sum(j[k] for j in jobs)
        intervals = []
        for j in jobs:
            s, e = j["start"] - off, j["end"] - off
            in_build = s < o["build_end"]
            r["build_jobs"] += in_build
            span((b if in_build else x)["id"], "sched", oid, s, e)
            intervals.append((s, e))
        for p in plans:
            s, e = p["start"] - off, p["end"] - off
            if o["build_end"] <= s < o["end"]:
                r["plan_ms"] += e - s
                span(x["id"], "catalyst", oid, s, e)
            elif o["start"] <= s < o["build_end"]:
                span(b["id"], "catalyst", oid, s, e)
        r["gap_ms"] = metrics.driver_gap((o["start"], o["end"]), intervals)
        records.append(r)
    by_op = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    for r in records:
        st = metrics.self_times(by_op[r["id"]])
        r["self_build_ms"] = st.get(build_layer, 0.0)
        r["self_exec_ms"] = st.get("exec", 0.0)
        r["self_sched_ms"] = st.get("sched", 0.0)
        r["self_catalyst_ms"] = st.get("catalyst", 0.0)
    return records, spans


PER_LAYER = [  # (metric, unit, per-op record key; None = computed below)
    ("queries.build_ms", "ms", "build_ms"),
    ("queries.build_jobs", "count", "build_jobs"),
    ("catalyst.plan_ms", "ms", "plan_ms"), ("exec_ms", "ms", "exec_ms"),
    ("sched.jobs", "count", "jobs"), ("sched.stages", "count", "stages"),
    ("sched.tasks", "count", "tasks"),
    ("sched.driver_gap_ms", "ms", "gap_ms"),
    ("executor.run_ms", "ms", "run_ms"), ("executor.cpu_ms", "ms", None),
    ("executor.gc_ms", "ms", "gc_ms"),
    ("executor.busy_cores", "cores", None),
    ("shuffle.read_bytes", "bytes", "shuffle_read_bytes"),
    ("shuffle.write_bytes", "bytes", "shuffle_write_bytes"),
    ("spill_bytes", "bytes", "spill_bytes"),
    ("scan.input_bytes", "bytes", "input_bytes"),
    ("blocks.peak_mb", "MB", None), ("hygiene_ms", "ms", "hygiene_ms"),
    ("scratch.builds", "count", None), ("scratch.bytes", "bytes", None),
    ("session.start_ms", "ms", None),
    ("self.build_ms", "ms", "self_build_ms"),
    ("self.exec_ms", "ms", "self_exec_ms"),
    ("self.sched_ms", "ms", "self_sched_ms"),
    ("self.catalyst_ms", "ms", "self_catalyst_ms"),
]
END_TO_END = ["setup_s", "ops_per_s", "latency_p50_s", "latency_tail_s",
              "input_mb_per_s"]
COUNTERS = ["jobs", "build_jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes", "builds"]


def end_to_end(workload, raw, manifest, setup_t0):
    """End-to-end metrics. Rates and the median are taken over one pass
    of the op list (per op name, then combined)."""
    off = raw["epoch_ms_at_nano0"]
    ops = raw["ops"]
    m = [dict(o, lat_s=(o["end"] - o["start"]) / 1e3,
              cycle_s=(o["end"] + o["hygiene_ms"] - o["start"]) / 1e3)
         for o in ops]
    pass_s = metrics.per_pass(m, "cycle_s")
    by_name = {}
    for o in m:
        by_name.setdefault(o["name"], []).append(o["lat_s"])
    lat = [o["lat_s"] for o in m]
    t = metrics.tail(lat)
    vals = {
        "setup_s": ((off + ops[0]["start"]) / 1e3 - setup_t0, "s"),
        "ops_per_s": (len(by_name) / pass_s, "1/s"),
        "latency_p50_s": (statistics.median(
            [statistics.median(v) for v in by_name.values()]), "s"),
        "latency_tail_s": (t[0] if t else max(lat), "s"),
        "input_mb_per_s": (pass_input_bytes(workload, manifest) / 1e6 / pass_s,
                           "MB/s"),
    }
    info = {"tail_percentile": t[1] if t else 100, "samples": len(lat),
            "window_s": (raw["window_end"] - raw["window_start"]) / 1e3,
            "passes": max(o["pass"] for o in ops),
            "latency_s_by_op": {n: statistics.median(v) for n, v in by_name.items()}}
    return vals, info


def per_layer(raw, build_layer):
    records, spans = op_records(raw, build_layer)
    m = records
    pp = {k: metrics.per_pass(m, k) for _, _, k in PER_LAYER if k}
    wall = sum(r["wall_ms"] for r in m)
    vals = {}
    for name, unit, key in PER_LAYER:
        if key:
            v = pp[key]
        elif name == "executor.cpu_ms":
            v = metrics.per_pass(m, "cpu_ns") / 1e6
        elif name == "executor.busy_cores":
            v = sum(r["run_ms"] for r in m) / wall
        elif name == "blocks.peak_mb":
            v = max(r["blocks_mb"] for r in m)
        elif name == "scratch.builds":
            v = raw["scratch_builds"]
        elif name == "scratch.bytes":
            v = raw["scratch_bytes_setup"] + raw["scratch_bytes_window"]
        elif name == "session.start_ms":
            v = raw["session_end"] - raw["session_start"]
        vals[name] = (v, unit)
    by_name = {}
    for r in m:
        by_name.setdefault(r["name"], []).append(r)
    per_op = {n: {"jobs": statistics.median([r["jobs"] for r in rs]),
                  "build_ms": statistics.median([r["build_ms"] for r in rs]),
                  "wall_ms": statistics.median([r["wall_ms"] for r in rs])}
              for n, rs in by_name.items()}
    ids = {r["id"] for r in m}
    self_ms = metrics.self_times([s for s in spans if s["op"] in ids])
    return vals, {"per_op": per_op, "self_ms_by_layer": self_ms,
                  "repeat_within_run": metrics.repeatability(records, COUNTERS)
                  }, records, spans


def history(workload, seed, records, stamp_key):
    """Counters of an earlier run with the same seed and build, to show
    which counters repeat exactly across runs."""
    hdir = os.path.join(BUILD, "history")
    os.makedirs(hdir, exist_ok=True)
    path = os.path.join(hdir, f"{workload}-{seed}.json")
    mine = {r["name"] + "#" + str(r["pass"]): {k: r[k] for k in COUNTERS}
            for r in records}
    prev = None
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if old.get("stamp") == stamp_key:
            prev = old["counters"]
    with open(path, "w") as f:
        json.dump({"stamp": stamp_key, "counters": mine}, f)
    if prev is None:
        return None
    return {k: sorted({key.split("#")[0] for key in mine if key in prev
                       and mine[key][k] != prev[key][k]}) for k in COUNTERS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    started = time.time()
    cp = build(started + 840)
    # leave time for the output checks inside the 180 s run limit, or
    # the 900 s limit of a run that built
    deadline = started + (165 if time.time() - started < 5 else 860)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark", "scratch", "duckdb"):
        os.makedirs(os.path.join(work, d))

    setup_t0 = time.time()
    if a.workload == "maplejuice_100mb":
        manifest = gen.maplejuice(f"{work}/input", a.seed, MJ_BYTES)
    else:
        manifest = gen.tables(f"{work}/input", a.seed, TABLES_SF)
    passes = max(1, round(a.seconds / PASS_S[a.workload]))
    raw = run_harness(cp, a.workload, work, passes, a.trace, deadline)

    bad = check(a.workload, work, raw)
    window = raw["ops"]
    errors = {o["name"]: o["error"] for o in window if o["error"]}
    failed_ops = [o for o in window if o["error"] or o["name"] in bad]
    guard = None
    if a.workload == "iterative_warm":
        built = [o["name"] for o in window if o["builds"] > 0]
        if built:
            guard = f"Scratch builds inside the timed window: {built}"
    e2e, info = end_to_end(a.workload, raw, manifest, setup_t0)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "inputs": manifest, "window": info,
              "failed_frac": len(failed_ops) / len(window),
              "mismatches": bad, "op_errors": errors, "guard": guard,
              "scratch": {"builds_total": raw["scratch_builds"],
                          "builds_in_window": sum(o["builds"] for o in window),
                          "bytes_after_setup": raw["scratch_bytes_setup"],
                          "bytes_in_window": raw["scratch_bytes_window"],
                          "built_prefixes": raw["built_prefixes"]},
              "jvm_gc_ms_in_window": sum(o["gc_ms"] for o in window)}
    input_total = sum(manifest["bytes"].values()) if "bytes" in manifest \
        else manifest["edges"]["bytes"] + manifest["ballots"]["bytes"]
    report["scratch"]["bytes_per_input_byte"] = (
        raw["scratch_bytes_setup"] + raw["scratch_bytes_window"]) / input_total
    last_untraced = os.path.join(BUILD, f"untraced-{a.workload}.json")
    if a.trace:
        build_layer = ("engine.MapleJuice" if a.workload == "maplejuice_100mb"
                       else "queries.build")
        vals, detail, records, spans = per_layer(raw, build_layer)
        report.update(detail)
        report["repeat_across_runs"] = history(a.workload, a.seed, records,
                                               _stamp())
        report["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            report["trace_overhead"] = {
                "vs_untraced_seed": base["seed"],
                "latency_p50": e2e["latency_p50_s"][0] / base["latency_p50_s"] - 1,
                "ops_per_s": base["ops_per_s"] / e2e["ops_per_s"][0] - 1}
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        vals = {k: e2e[k] for k in END_TO_END}
        with open(last_untraced, "w") as f:
            json.dump(dict({k: v for k, (v, _) in e2e.items()}, seed=a.seed), f)
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not bad and not errors and guard is None,
        "attempted": len(window), "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}}))


if __name__ == "__main__":
    main()
