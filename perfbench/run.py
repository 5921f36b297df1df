#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference's monthly batch DAG shape.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--spans-out FILE]
    python3 perfbench/run.py --smoke

One run builds the engine and the harness from source when they are not
built yet (into .bench_build/), generates the workloads' corpora once, then
starts one JVM that sets up cold, runs a cold first pass, warm-up passes
(the first writes the results) and a fixed number of timed warm passes
(about S seconds of them on a 4-core host). tools/compare.py checks the
results against the DuckDB oracle. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. README.md in
this directory defines every workload and metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BASE = os.path.join(HERE, "corpus", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Each workload: its corpus (ScaleUp factor of the committed seed-42
# sf0.001 tables, uniform or Zipf), the fixture families it cold-builds in
# set-up, whether each result is published (Parquet file + bulk index),
# and the nominal seconds of one warm pass on a 4-core host, which turns
# --seconds into a fixed number of timed warm passes.
WORKLOADS = {
    "f1_usage_x10": dict(
        factor=10, zipf=False, publish=True, fixtures=[], pass_s=5.0,
        queries=["combine", "wins", "fastestlap", "filter", "weather",
                 "union", "stats", "top10", "evopoints", "pitstop"]),
    "olap_skew_x10z": dict(
        factor=10, zipf=True, publish=False, fixtures=["graph_edges"],
        pass_s=3.5,
        queries=["asof_native", "band_join", "cube_agg", "graph_lpa",
                 "range_join", "window_funcs"]),
}

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("query_p50_s", "s"), ("query_p90_s", "s"), ("cpu_s", "s"),
              ("live_heap_peak_mb", "MB")]

PER_LAYER = [
    ("GraftSession.build_s", "s"), ("FixtureStore.build_s", "s"),
    ("FixtureStore.disk_mb", "MB"), ("operators.define_s", "s"),
    ("operators.define_jobs", "count"), ("plans.plan_s", "s"),
    ("plans.exchanges", "count"), ("plans.smj", "count"),
    ("plans.shj", "count"), ("plans.bhj", "count"),
    ("plans.bnlj_cartesian", "count"), ("plans.windows", "count"),
    ("plans.sorts", "count"), ("plans.graft_execs", "count"),
    ("exec.wall_s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.core_util", "ratio"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.skew_ratio", "ratio"), ("exec.input_mb", "MB"), ("exec.gc_s", "s"),
    ("sources.write_s", "s"), ("sources.write_mb", "MB"),
    ("sources.index_s", "s"), ("sources.index_docs", "count"),
    ("sources.index_batches", "count"), ("sources.index_retries", "count"),
    ("SessionMemos.release_s", "s"), ("SessionMemos.storage_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
]

# unrecorded warm-up passes after the cold first pass: on a 4-core VM the
# first warm pass after one warm-up was, in most runs, 5-25% slower than
# the next
WARMUPS = 2

LSH_WARNING = "LSH geometry already frozen"
# /tmp names a run of this benchmark could leave behind if the private
# temp dirs were bypassed
TMP_PATTERN = re.compile(
    r"^(graft|spark|blockmgr|hsperfdata|snappy|zstd|libnetty|liblz4|jna|"
    r"jffi|duckdb|perfbench|scala)", re.I)

JAVA_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


# ---------------------------------------------------------------- processes

_children = []


def run_proc(cmd, timeout, env=None, cwd=None, log_path=None):
    """Run cmd; kill it on timeout. The child stays in this process's
    group, so a signal to the group reaches it too."""
    out = open(log_path, "w") if log_path else subprocess.DEVNULL
    try:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=out,
                             stderr=subprocess.STDOUT)
        _children.append(p)
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise Failure(f"timed out after {timeout:.0f} s: {cmd[0]}")
        finally:
            _children.remove(p)
    finally:
        if log_path:
            out.close()
    if rc != 0:
        tail = ""
        if log_path:
            with open(log_path, errors="replace") as f:
                tail = "".join(f.readlines()[-25:])
        raise Failure(f"{' '.join(cmd[:1] + cmd[-3:])} exited {rc}\n{tail}")


def stop_children(*_):
    for p in list(_children):
        p.kill()
        p.wait()
    raise SystemExit(3)


def jvm_env(extra=None):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_", "SPARK_LOCAL"))}
    # Spark runs half as many tasks as there are cores: the JIT compiler,
    # GC and driver threads keep the rest, and a stage waits on fewer
    # tasks when the host takes a core away for a moment
    env["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    env.update(extra or {})
    return env


def java_cmd(classpath, tmp, args):
    return (["java", *JAVA_OPENS, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
             "-cp", classpath] + args)


# -------------------------------------------------------------------- build

def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """Spark's jars: the engine's only dependency, and the Scala compiler.
    $SPARK_HOME's, else the ones the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                                recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main_src:
        raise Failure("no engine sources under src/main/scala")
    return main_src, harness_src


def corpus_dir(name):
    """Where the workload's corpus lives. It is keyed on what decides its
    bytes: ScaleUp, the harness that calls it, the committed tables and
    the factor, so an engine change elsewhere reuses it."""
    w = WORKLOADS[name]
    key = digest([os.path.join(ROOT, "src/main/scala/graft/ScaleUp.scala")]
                 + sources()[1]
                 + sorted(glob.glob(os.path.join(BASE, "*.parquet"))))
    return os.path.join(BUILD, f"corpus-{name}-x{w['factor']}"
                               f"{'z' if w['zipf'] else ''}-{key}")


def classes_dir():
    main_src, harness_src = sources()
    return os.path.join(BUILD, f"classes-{digest(main_src + harness_src)}")


def ready():
    """True when the engine build and every corpus exist already."""
    return all(os.path.isfile(os.path.join(d, "OK")) for d in
               [classes_dir()] + [corpus_dir(n) for n in WORKLOADS])


def remove_stale():
    """Delete the half-written build and corpus dirs and the run dirs of
    runs that were killed, and the builds and corpora of other sources."""
    keep = {classes_dir()} | {corpus_dir(n) for n in WORKLOADS}
    for d in glob.glob(os.path.join(BUILD, "*")):
        m = (re.search(r"\.tmp(\d+)$", d) or
             re.match(r"run-(\d+)-", os.path.basename(d)))
        if m:
            try:
                os.kill(int(m.group(1)), 0)  # its process still runs
                continue
            except OSError:
                pass
        elif d in keep or not os.path.basename(d).startswith(
                ("classes-", "corpus-")):
            continue
        shutil.rmtree(d, ignore_errors=True)


def build(deadline):
    """Compile the engine (src/main/scala) and the harness with the Scala
    compiler that ships in the Spark jars, and generate every workload's
    corpus; reuse what exists for the same sources."""
    main_src, harness_src = sources()
    jars = spark_jars()
    out = classes_dir()
    if not os.path.isfile(os.path.join(out, "OK")):
        log(f"building {len(main_src)} engine + {len(harness_src)} harness sources")
        t0 = time.time()
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for d in ("main", "harness", "jtmp"):
            os.makedirs(os.path.join(tmp, d))
        scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={tmp}/jtmp", "-cp", f"{jars}/*",
                  "scala.tools.nsc.Main", "-nowarn", "-usejavacp"]
        run_proc(scalac + ["-d", f"{tmp}/main"] + main_src,
                 deadline - time.time(), log_path=f"{tmp}/main.log")
        run_proc(scalac + ["-classpath", f"{tmp}/main", "-d", f"{tmp}/harness"]
                 + harness_src, deadline - time.time(),
                 log_path=f"{tmp}/harness.log")
        shutil.rmtree(f"{tmp}/jtmp")
        open(os.path.join(tmp, "OK"), "w").close()
        os.rename(tmp, out)
        log(f"built in {time.time() - t0:.1f} s")
    classpath = f"{out}/harness:{out}/main:{jars}/*"
    for name, w in WORKLOADS.items():
        corpus(name, w, classpath, deadline)
    return classpath


def corpus(name, w, classpath, deadline):
    """Generate the workload's ScaleUp replica of the committed tables
    (untimed) unless it exists."""
    out = corpus_dir(name)
    if os.path.isfile(os.path.join(out, "OK")):
        return
    log(f"generating the {name} corpus")
    t0 = time.time()
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(f"{tmp}/jtmp")
    env = jvm_env({"GRAFT_SCALE_ZIPF": "1" if w["zipf"] else "0"})
    run_proc(java_cmd(classpath, f"{tmp}/jtmp", [
        "perfbench.Harness", "gen", "--src", BASE, "--out", f"{tmp}/data",
        "--factor", str(w["factor"])]), deadline - time.time(), env=env,
        cwd=tmp, log_path=f"{tmp}/gen.log")
    shutil.rmtree(f"{tmp}/jtmp")
    open(os.path.join(tmp, "OK"), "w").close()
    os.rename(tmp, out)
    log(f"generated in {time.time() - t0:.1f} s")


def input_size(d):
    """Per-table row counts and bytes of a corpus dir."""
    import pyarrow.dataset as ds
    out = {}
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            files = ([p] if os.path.isfile(p) else
                     glob.glob(os.path.join(p, "*.parquet")))
            out[t] = {"rows": ds.dataset(p, format="parquet").count_rows(),
                      "bytes": sum(os.path.getsize(f) for f in files)}
    return out


# ------------------------------------------------------------- host context

def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibrate():
    """A fixed memory- and thread-shaped kernel: every core sorts its own
    2M-double array. Its time moves with host phases that single-thread
    spin probes miss."""
    import numpy as np
    n = len(os.sched_getaffinity(0))
    arrays = [np.random.default_rng(i).random(1 << 21) for i in range(n)]
    threads = [threading.Thread(target=np.sort, args=(a,)) for a in arrays]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


# ------------------------------------------------------------------- oracle

def oracle_check(corpus_dir, results_dir, names, oracles, run_dir):
    """Run tools/compare.py on the results: each result against its
    oracle SQL in DuckDB on the same corpus. Returns ({name: problem} for
    failures, {name: rows})."""
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    out = os.path.join(run_dir, "compare.json")
    env = dict(os.environ, TMPDIR=os.path.join(run_dir, "tmp"),
               PYTHONDONTWRITEBYTECODE="1")
    try:
        run_proc([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                  corpus_dir, results_dir, "--json", out], 120, env=env,
                 cwd=run_dir, log_path=os.path.join(run_dir, "compare.log"))
    except Failure:
        if not os.path.isfile(out):  # compare.py itself broke
            raise
    with open(out) as f:
        record = json.load(f)["queries"]
    bad, rows = {}, {}
    for n in names:
        q = record.get(n)
        if q is None:
            bad[n] = "no result"
            continue
        rows[n] = q["rows"]
        if q["status"] not in ("pass", "ROWS-ONLY pass"):
            bad[n] = q["status"]
    return bad, rows


# ---------------------------------------------------------------- a run

def quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def span_self_times(spans):
    """Self time of each span: its duration minus its children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    return {s["id"]: s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
            for s in spans}


def check_spans(spans, publish):
    """Well-formed span tree: ids resolve, intervals nest, self times are
    non-negative, every query span has its layer children."""
    ids = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        p = ids.get(s["parent"])
        if s["end_s"] < s["start_s"]:
            problems.append(f"span {s['name']} ends before it starts")
        if s["parent"] != -1 and p is None:
            problems.append(f"span {s['name']} has no parent")
        if p and not (p["start_s"] <= s["start_s"] and s["end_s"] <= p["end_s"]):
            problems.append(f"span {s['name']} escapes {p['name']}")
    for sid, self_s in span_self_times(spans).items():
        if self_s < -1e-6:
            problems.append(f"span {ids[sid]['name']} self time {self_s}")
    # on publish workloads planning happens inside sources.write
    need = ({"operators.define", "sources.write", "sources.index",
             "SessionMemos.release"} if publish else
            {"operators.define", "plans.plan", "exec", "SessionMemos.release"})
    for s in spans:
        if s["name"].startswith("query:"):
            have = {c["name"] for c in spans if c["parent"] == s["id"]}
            if not need <= have:
                problems.append(f"{s['name']} lacks {sorted(need - have)}")
    return problems


def one_run(name, seed, seconds, trace, smoke, deadline):
    w = WORKLOADS[name]
    classpath = build(deadline)
    data = BASE if smoke else os.path.join(corpus_dir(name), "data")
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "zone", "dump"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        tmp_before = set(os.listdir("/tmp"))
        host = {"loadavg_start": loadavg(), "calibration_start_s": calibrate()}
        steal0, total0 = cpu_jiffies()
        out = os.path.join(run_dir, "result.json")
        args = ["perfbench.Harness", "run", "--dir", data,
                "--queries", ",".join(w["queries"]), "--seed", str(seed),
                "--warmups", str(WARMUPS),
                "--passes", str(max(2, round(seconds / w["pass_s"]))),
                "--trace", str(trace),
                "--fixtures", ",".join(w["fixtures"]),
                "--publish", "1" if w["publish"] else "0",
                "--zone", os.path.join(run_dir, "zone"), "--out", out,
                "--run_id", f"{name}-{seed}-{os.getpid()}"]
        if not w["publish"]:
            args += ["--dump", os.path.join(run_dir, "dump")]
        if smoke:
            args += ["--smoke", "1"]
        jvm_log = os.path.join(run_dir, "jvm.log")
        t_jvm = time.time()
        run_proc(java_cmd(classpath, os.path.join(run_dir, "tmp"), args),
                 deadline - time.time() - 15, env=jvm_env(), cwd=run_dir,
                 log_path=jvm_log)
        log(f"jvm {time.time() - t_jvm:.1f} s")
        with open(out) as f:
            r = json.load(f)
        with open(jvm_log, errors="replace") as f:
            first_setup = f.read().split("[perfbench] set-up done")[0]
        steal1, total1 = cpu_jiffies()
        host["loadavg_end"] = loadavg()
        host["calibration_end_s"] = calibrate()
        host["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        results = os.path.join(run_dir, "zone" if w["publish"] else "dump")
        t_or = time.time()
        bad, rows = oracle_check(data, results, w["queries"], r["oracle"],
                                 run_dir)
        log(f"oracle {time.time() - t_or:.1f} s")
        if w["publish"]:
            # the counting transport saw every document of every pass
            passes = r["attempted"] // len(w["queries"])
            docs = sum(p["docs"] for p in r["published"].values())
            if r["indexed_docs_total"] != docs * passes:
                bad["bulk index"] = (f"transport counted {r['indexed_docs_total']}"
                                     f" docs, reports sum to {docs * passes}")
            for q, p in r["published"].items():
                parts = glob.glob(os.path.join(results, q, "part-*"))
                if len([f for f in parts if not f.endswith(".crc")]) != 1:
                    bad.setdefault(q, "published result is not one file")
                if p["docs"] != rows.get(q) or p["failed_docs"] != 0:
                    bad.setdefault(q, f"indexed {p['docs']} docs for "
                                      f"{rows.get(q)} rows")
        leaks = sorted(n for n in set(os.listdir("/tmp")) - tmp_before
                       if TMP_PATTERN.match(n))
        return dict(workload=name, seed=seed, res=r, oracle_failures=bad,
                    host=host, tmp_leaks=leaks,
                    lsh_frozen_warning=LSH_WARNING in first_setup,
                    input=input_size(data))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(r):
    passes = r["passes"]
    qs = r["query_s"]
    return {
        "setup_s": r["setup_s"],
        "first_pass_s": r["first_pass_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(qs),
        "query_p90_s": quantile(qs, 90),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "live_heap_peak_mb": max(r["heap_mb"]),
    }


def per_layer(r):
    tp = r["traced_passes"]
    m = {k: statistics.median(p[k] for p in tp) for k in tp[0]}
    m["GraftSession.build_s"] = r["session_build_s"]
    m["FixtureStore.build_s"] = r["fixture_build_s"]
    m["FixtureStore.disk_mb"] = r["fixture_disk_mb"]
    m["trace.overhead_s"] = (statistics.median(r["traced_pass_s"]) -
                             statistics.median(p["wall_s"] for p in r["passes"]))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans here")
    ap.add_argument("--smoke", action="store_true",
                    help="one traced pass of every workload on sf0.001; "
                         "checks the span tree and the oracle")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    for need in ("src/main/scala", "tools/compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} is missing: run from a checkout of the repository")
            sys.exit(2)
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    start = time.time()
    try:
        os.makedirs(BUILD, exist_ok=True)
        remove_stale()
        # a run that has to compile the engine or generate a corpus may
        # take 900 s; any other run must end within 180 s
        deadline = start + (175 if ready() else 880)
        if a.smoke:
            sys.exit(smoke(deadline + 600))
        run = one_run(a.workload, a.seed, a.seconds, a.trace, False, deadline)
    except Failure as e:
        log(f"run failed: {e}")
        sys.exit(1)
    report(run, a.trace, a.spans_out)


def report(run, trace, spans_out):
    r = run["res"]
    attempted = r["attempted"]
    failed = r["failed"] + len(run["oracle_failures"])
    hygiene_ok = not run["tmp_leaks"]
    correct = failed == 0 and hygiene_ok
    qs = r["query_s"]
    print(f"workload {run['workload']}  seed {run['seed']}  "
        f"cores {r['cores']}  "
        f"warm passes {len(r['passes'])}  query executions "
        f"{attempted} ({len(qs)} warm samples)")
    print("input " + json.dumps(run["input"], sort_keys=True))
    print("host " + json.dumps(run["host"], sort_keys=True))
    print(f"lsh_frozen_warning {run['lsh_frozen_warning']}  "
        f"tmp_leaks {run['tmp_leaks']}  "
        f"pass_all_s {[round(p['wall_s'], 3) for p in r['passes']]}")
    # each query's seconds in every pass: first, warm-up, then warm
    print("query_by_pass_s " + json.dumps(
        {q: [round(p[q], 3) for p in r["pass_queries"]]
         for q in r["pass_queries"][0]}))
    for q, why in sorted(run["oracle_failures"].items()):
        print(f"ORACLE MISMATCH {q}: {why}")
    for q in r["failed_names"]:
        print(f"QUERY FAILED {q}")
    if trace:
        metrics = per_layer(r)
        units = dict(PER_LAYER)
        spans = r["spans"]
        self_t = span_self_times(spans)
        by_layer = {}
        for s in spans:
            layer = re.sub(r"^pass\[\d+\]$", "pass",
                           re.sub(r"^query:.*", "query", s["name"]))
            by_layer[layer] = by_layer.get(layer, 0.0) + self_t[s["id"]]
        for layer, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"self_s {layer:28s} {v:.4f}")
        if spans_out:
            with open(spans_out, "w") as f:
                json.dump([dict(s, self_s=self_t[s["id"]]) for s in spans], f)
    else:
        metrics = end_to_end(r)
        units = dict(END_TO_END)
        print(f"{'error_rate':22s} {failed / attempted:.6f} ratio")
    for k, u in (PER_LAYER if trace else END_TO_END):
        print(f"{k:30s} {metrics[k]:.6f} {u}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k, _ in (PER_LAYER if trace else END_TO_END)}}))


def smoke(deadline):
    ok = True
    for name, w in WORKLOADS.items():
        run = one_run(name, 1, 0, 1, True, deadline)
        r = run["res"]
        problems = check_spans(r["spans"], w["publish"])
        problems += [f"oracle {q}: {v}" for q, v in
                     sorted(run["oracle_failures"].items())]
        problems += [f"query {q} failed" for q in r["failed_names"]]
        problems += [f"/tmp leak {n}" for n in run["tmp_leaks"]]
        if run["lsh_frozen_warning"]:
            problems.append("LSH geometry froze before the corpus hint")
        print(f"smoke {name}: {len(w['queries'])} queries, "
              f"{len(r['spans'])} spans, "
              + ("ok" if not problems else "; ".join(problems)))
        ok = ok and not problems
    return 0 if ok else 1


if __name__ == "__main__":
    main()
