#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It
  1. compiles graft (src/main/scala) with the benchmark harness
     (perfbench/src) using the Scala compiler shipped with Spark,
     once per source tree, into .bench_build/perfbench/;
  2. derives the seeded inputs from the sf0.1 fixtures (seeded row order
     and key offsets), once per seed;
  3. runs the harness JVM: repeated set-ups, a cold first pass, the
     workload's unmeasured warm-up passes, then its measured passes, with
     its cwd, warehouse, local and temp dirs under .bench_build/perfbench/.
     The pass counts are fixed per workload (workloads.json) so every
     run's medians cover the same pass indices; --seconds is the nominal
     length of the measured window, which those passes take on a 4-core
     host, and is only logged beside the measured time;
  4. checks the first pass's collected results against their DuckDB
     oracles with tools/check.py while the warm-up passes run (the
     measured passes wait for it), and every later pass's result hash
     against the first pass's;
  5. prints the metrics as one JSON line, the last line of stdout.

--trace 1 prints the per-layer metrics instead of the end-to-end ones and
keeps the span file under .bench_build/perfbench/traces/. --list prints
every metric of the workload by name with its unit and sample count.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURES = os.environ.get("PERFBENCH_FIXTURES", os.path.expanduser("~/testdata/sf0.1"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Keys shifted by the seeded offset; every table that carries a key family
# shifts it by the same amount, so joins keep their matches.
KEY_COLUMNS = {"o_orderkey", "l_orderkey", "o_custkey", "c_custkey",
               "p_partkey", "l_partkey", "s_suppkey", "l_suppkey"}
# Row identity used for the seeded row order.
ROW_KEYS = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
            "customer": ["c_custkey"], "supplier": ["s_suppkey"],
            "part": ["p_partkey"], "orders": ["o_orderkey"],
            "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
            "documents": ["doc_id"], "embeddings": ["vec_id"]}
# A run must end within 180 s of its start once the build and the seed's
# inputs exist: the harness JVM and the oracle check share this budget.
RUN_BUDGET_S = 172
# Spark on JDK 17 outside spark-submit needs these opens; build.sbt passes
# the same list to its forked JVMs.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """The Spark jars build.sbt compiles graft against (its unmanagedBase);
    they include the Scala compiler the build below uses."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not graft:
        fail(f"no graft sources under {ROOT}/src/main/scala: run from the repo root")
    return graft + own


def build():
    """Compile once per source tree; the class dir is keyed on a content hash."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(WORK, "classes", key)
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(WORK, "classes", "*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f}s")
    return out


def make_inputs(seed):
    """Seeded copy of the sf0.1 fixtures: rows in a seed-keyed order and
    the order/customer/part/supplier keys shifted by a seed-keyed multiple
    of 1000 (so key residues mod 10/100/1000 keep their populations).
    Single row group per file, like the fixtures."""
    out = os.path.join(WORK, "data", f"seed-{seed}")
    if os.path.exists(os.path.join(out, ".ok")):
        os.utime(out)
        return out
    # keep the inputs of the few most recently used seeds only
    kept = sorted(glob.glob(os.path.join(WORK, "data", "seed-*")), key=os.path.getmtime)
    for old in kept[:-7]:
        shutil.rmtree(old, ignore_errors=True)
    import duckdb
    if not all(os.path.exists(os.path.join(FIXTURES, f"{t}.parquet")) for t in TABLES):
        fail(f"fixtures not found under {FIXTURES}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    offset = 1000 * (1 + (seed * 7919) % 997)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        src = os.path.join(FIXTURES, f"{t}.parquet")
        cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        sel = ", ".join(
            f"CAST({c} + {offset} AS {ty}) AS {c}" if c in KEY_COLUMNS else c
            for c, ty, *_ in cols)
        order = ", ".join(ROW_KEYS[t])
        con.execute(f"""COPY (SELECT {sel} FROM read_parquet('{src}')
                              ORDER BY hash({order}, {seed}::BIGINT), {order})
                        TO '{tmp}/{t}.parquet'
                        (FORMAT parquet, ROW_GROUP_SIZE 100000000)""")
    con.close()
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear-interpolated quantile of xs at q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# The tail is read at p75 of the measured (query, pass) samples. A run's
# three measured passes yield 12 (llm_ingest) to 27 (sql_analytics) samples,
# so p90 would rest on one to three of them. The sample count is reported
# with it.
TAIL_Q = 0.75


def run_jvm(spec, classes, data, trace, run_dir, deadline):
    for d in ("cwd", "tmp", "warehouse", "local", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    sets = spec.get("layer_sets", {})
    args = {
        "queries": ",".join(spec["queries"]), "tables": ",".join(spec["tables"]),
        "data": data, "out": os.path.join(run_dir, "out"), "tmp": run_dir,
        "warmup": spec["warmup_passes"], "passes": spec["measured_passes"],
        "trace": trace, "cpus": cpus, "setups": spec["setups"],
        "cache": int(spec["cache"]), "fresh": int(spec["fresh"]), "jobs": int(spec["jobs"]),
        "graph": ",".join(sets.get("graph", [])),
        "functions": ",".join(sets.get("functions", [])),
        "mapreduce": ",".join(sets.get("mapreduce", [])),
    }
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # graft's own runs default to an 8g heap (build.sbt). At sf0.1 these
    # workloads spend under 0.1 s a pass in GC with 3g, and the smaller cap
    # keeps a run's footprint small on a shared host.
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    results = os.path.join(run_dir, "out", "results")
    verdicts = None
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        # The harness exits when its stdin closes, so it cannot outlive
        # this process.
        p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"), stdin=subprocess.PIPE,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            # The harness writes the cold pass's results, then runs its
            # warm-up passes; the oracle check runs beside those, and the
            # measured passes start once it has written .checked.
            while (p.poll() is None and time.time() < deadline - 20
                   and not os.path.exists(os.path.join(results, ".ready"))):
                time.sleep(0.1)
            if os.path.exists(os.path.join(results, ".ready")):
                t0 = time.time()
                verdicts = oracle_failures(data, results, deadline)
                open(os.path.join(results, ".checked"), "w").close()
                log(f"oracle check {time.time() - t0:.1f}s, beside the warm-up passes")
            rc = p.wait(timeout=max(1, deadline - 20 - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    res = os.path.join(run_dir, "out", "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM exited with {rc}:\n{tail}")
    with open(res) as f:
        return json.load(f), verdicts


def check_cpu():
    """Two CPUs at most, at the lowest priority, for the oracle check: it
    shares the machine with the harness's warm-up passes."""
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus[-2:])
    os.nice(19)


def oracle_failures(data, outdir, deadline):
    """Pass-0 results against the DuckDB oracles, by tools/check.py's rules."""
    with open(os.path.join(outdir, "oracle_sql.json")) as f:
        if not json.load(f):
            return {}
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, outdir],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           preexec_fn=check_cpu, timeout=max(1, deadline - 20 - time.time()))
    except subprocess.TimeoutExpired:
        fail("tools/check.py timed out")
    verdicts = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0]
        if word in ("PASS", "FAIL", "WARN"):
            verdicts[name] = word == "PASS"
            if word != "PASS":
                log(line)
    if "== " not in r.stdout:
        fail("tools/check.py did not finish:\n" + r.stdout[-3000:])
    return verdicts


def sweep_store_workspaces(run_dir):
    """graft's stores keep their workspaces under /tmp/graft_*_<app id>_*;
    the JVM's exit hooks remove them, and this removes what a killed run
    left behind."""
    ids = os.path.join(run_dir, "out", "app_ids")
    if not os.path.exists(ids):
        return
    with open(ids) as f:
        for app in f.read().split():
            token = "".join(c if c.isalnum() else "_" for c in app)
            for d in glob.glob(f"/tmp/graft_*{token}_*"):
                shutil.rmtree(d, ignore_errors=True)


def summarize(res, verdicts):
    execs = res["execs"]
    warm = [e for e in execs if e["pass"] > res["warmup_passes"]]
    first_hash = {e["query"]: e["hash"] for e in execs if e["pass"] == 0 and e["ok"]}
    failed = 0
    for e in execs:
        bad = (not e["ok"] or first_hash.get(e["query"]) != e["hash"]
               or not verdicts.get(e["query"], True))
        if bad:
            why = e["error"] or ("oracle mismatch" if not verdicts.get(e["query"], True)
                                 else "result hash differs from pass 0")
            log(f"{e['query']} pass {e['pass']} failed: {why}")
        failed += bad
    passes = sorted({e["pass"] for e in warm})
    pass_ms = [sum(e["ms"] for e in warm if e["pass"] == p) for p in passes]
    pass_cpu = [sum(e["cpu_ms"] for e in warm if e["pass"] == p) for p in passes]
    ok_warm = [e for e in warm if e["ok"]]
    per_q = {}
    for e in ok_warm:
        per_q.setdefault(e["query"], []).append(e["ms"])
    med = {q: median(v) for q, v in per_q.items()}
    ratios = [e["ms"] / med[e["query"]] for e in ok_warm if med[e["query"]] > 0]
    first = [e["ms"] for e in execs if e["pass"] == 0]
    metrics = {
        "setup_s": (median([s["total_s"] for s in res["setups"]]), "s"),
        "first_pass_s": (sum(first) / 1000, "s"),
        "pass_s": (median(pass_ms) / 1000, "s"),
        "query_geomean_ms": (math.exp(statistics.fmean(math.log(v) for v in med.values()))
                             if med else float("nan"), "ms"),
        "query_tail_ratio": (quantile(ratios, TAIL_Q), "ratio"),
        "cpu_s": (median(pass_cpu) / 1000, "s"),
        "retained_mb": (res["retained_mb"], "MB"),
        "ok_frac": (1 - failed / len(execs), "ratio"),
    }
    samples = {"setup_s": len(res["setups"]), "first_pass_s": 1, "pass_s": len(passes),
               "query_geomean_ms": len(ok_warm), "query_tail_ratio": len(ratios),
               "cpu_s": len(passes), "retained_mb": 1, "ok_frac": len(execs)}
    info = {"measured_passes": len(passes), "pass_ms": [round(x) for x in pass_ms],
            "tail_samples": len(ratios), "failed": failed, "attempted": len(execs),
            "per_query_ms": {q: round(v, 2) for q, v in med.items()}}
    return metrics, samples, info, failed, len(execs)


def layer_summary(res):
    lay = res["layers"]
    metrics = {}
    units = {"_ms": "ms", "_us": "us", "_mb": "MB", "_frac": "ratio", "_amp": "ratio", "_s": "s"}

    def unit(name):
        return next((u for suf, u in units.items() if name.endswith(suf)), "count")

    for name, vals in lay["setup"].items():
        metrics[name] = (median(vals), unit(name), len(vals))
    passes = lay["passes"]
    for name in passes[0]:
        metrics[name] = (median([p[name] for p in passes]), unit(name), len(passes))
    metrics["caches.leaked_mb"] = (lay["caches.leaked_mb"], "MB", 1)
    metrics["trace.plan_changes"] = (lay["trace.plan_changes"], "count", 1)
    return metrics


def write_trace(workload, seed, run_dir, res, layers):
    """Keep the span file and a per-query summary (self time per phase,
    plan fingerprints) beside the other traces."""
    dest = os.path.join(WORK, "traces", f"{workload}-seed{seed}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    shutil.copy(os.path.join(run_dir, "out", "spans.jsonl"), dest)
    self_ms = {}
    with open(os.path.join(dest, "spans.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            if s["kind"] in ("build", "plan", "execute", "release", "query"):
                self_ms.setdefault(s["name"], {}).setdefault(s["kind"], []).append(s["self_ms"])
    queries = {q: {"self_ms": {k: round(median(v), 3) for k, v in ph.items()},
                   "fingerprints": res["layers"]["fingerprints"].get(q, [])}
               for q, ph in self_ms.items()}
    with open(os.path.join(dest, "queries.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "queries": queries,
                   "layers": {k: v[0] for k, v in layers.items()},
                   "layers_by_pass": res["layers"]["passes"]}, f, indent=1)
    return dest


def main():
    # A terminated run still runs its finally blocks: they stop the harness
    # JVM and the oracle check, and remove the run's files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true",
                    help="also print every metric with its unit and sample count")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    spec = cfg["workloads"][a.workload]
    seed = cfg["default_seed"] if a.seed is None else a.seed
    seconds = cfg["run_seconds"] if a.seconds is None else a.seconds
    sources()  # fail fast outside a source tree
    classes = build()
    data = make_inputs(seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        deadline = t0 + RUN_BUDGET_S
        res, verdicts = run_jvm(spec, classes, data, a.trace, run_dir, deadline)
        if verdicts is None:
            fail("the harness wrote no cold-pass results to check")
        log(f"harness JVM {time.time() - t0:.1f}s")
        metrics, samples, info, failed, attempted = summarize(res, verdicts)
        if a.trace:
            layers = layer_summary(res)
            # The stores layer is found by call site (Recorder.scala); a
            # renamed store object or a shorter call stack would zero it.
            stores = spec.get("layer_sets", {}).get("stores")
            if stores and any(p["stores.jobs"] == 0 for p in res["layers"]["passes"]):
                fail(f"no store jobs recorded in a measured pass of {stores}: "
                     "the stores layer no longer matches the store writers")
            dest = write_trace(a.workload, seed, run_dir, res, layers)
            log(f"spans and per-query summary in {os.path.relpath(dest, ROOT)}")
            last = os.path.join(WORK, "last", f"{a.workload}-seed{seed}.json")
            if os.path.exists(last):
                with open(last) as f:
                    untraced = json.load(f)["pass_s"]
                traced = layers["trace.pass_s"][0]
                log(f"tracing overhead on pass_s: {traced / untraced - 1:+.1%} "
                    f"({traced:.3f}s traced vs {untraced:.3f}s untraced)")
            shown = {k: (v, u) for k, (v, u, _) in layers.items()}
            counts = {k: n for k, (_, _, n) in layers.items()}
        else:
            os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
            with open(os.path.join(WORK, "last", f"{a.workload}-seed{seed}.json"), "w") as f:
                json.dump({k: v for k, (v, _) in metrics.items()}, f)
            shown, counts = metrics, samples
    finally:
        sweep_store_workspaces(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"{a.workload} seed {seed}: {info['measured_passes']} measured passes "
        f"({sum(info['pass_ms']) / 1000:.1f}s, nominal {seconds:g}s), tail p75 "
        f"over {info['tail_samples']} samples, "
        f"{failed}/{attempted} failed; pass ms {info['pass_ms']}; "
        f"per-query median ms {info['per_query_ms']}")
    if a.list:
        for k, (v, u) in shown.items():
            print(f"{k:28s} {v:14.4f} {u:6s} n={counts[k]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
