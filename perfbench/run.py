#!/usr/bin/env python3
"""The repository benchmark: two workloads driven through the program's
public entry points, checked against the DuckDB oracle, reported end to end
(`--trace 0`) or per layer (`--trace 1`).

    python3 perfbench/run.py --workload glider_session --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run builds the library and the
client (`perfbench/client`) with sbt; later runs reuse the build while the
sources are unchanged. `inputs.py` prepares the inputs from the reference
tables in `perfbench/data/` into `perfbench/.work/`, which also holds each
run's temp dir, Spark local dir and store root; the seed sets the query
order. The last line of stdout is the result object; the line before it
carries details (tail percentile, failing queries, trace file).
WHY.md records why each workload exists and which layer metric should move
which end-to-end metric.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import inputs
import oracle
import trace

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLIENT = os.path.join(BENCH, "client")
WORK = os.path.join(BENCH, ".work")

# Each workload: its queries (run in seeded order), whether every pass is a
# new job whose memos and stores start empty (`job`) or the passes share one
# warm session state, how many untimed passes warm the JVM up, the fewest
# timed passes a run makes.
WORKLOADS = {
    # One query per glider family (a as f g j o p r st u w), the first by
    # query number; a long-lived session repeats them over the same inputs.
    "glider_session": dict(
        queries=["q_a1_daily_stats", "q_as1_asof_join", "q_f1_scalar_pack",
                 "q_g1_geojson_tracks", "q_j1_join_enrich", "q_o3_sort_limit",
                 "q_p6_prefix_suffix", "q_r1_range_join", "q_st1_daily_rollup",
                 "q_u1_union_all", "q_w2_ordered_track"],
        job=False, warmups=1, passes=4),
    # The two persisted-store formats through their lifecycles: an IVF-PQ
    # index built, appended to and searched, and a dedup index built,
    # deleted from and checked. Every timed pass is a new job whose memos
    # and stores start empty. These queries run dozens of Spark jobs each;
    # their first pass after a single warm-up still ran about 20 % slow
    # and varied with the JIT, hence the second warm-up.
    "store_lifecycle": dict(
        queries=["q_s9_index_append", "q_d12_index_delete"],
        job=True, warmups=2, passes=2),
}

HEAP = "3g"
RUN_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# The statements of SparkEntry.entry after its first line, which names the
# warm-up table's directory `d`. Client.setup runs them over the
# benchmark's copy of that table, because entry reads a fixed path outside
# the checkout. If the program's warm-up changes, set-up no longer measures
# it, so the run stops instead of reporting a stale setup_s.
ENTRY_BODY = """
    val li = Tables.lineitem(spark, d)
    val summaries = Profiles.summaries(li, "l_returnflag", "l_shipdate",
      "l_extendedprice", "l_discount", "l_orderkey")
    val info = li.groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n_parts"))
    Merges.joinInfo(summaries, info, "l_returnflag")
"""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(CLIENT, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(CLIENT, "build.sbt"), os.path.join(CLIENT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if not os.path.isfile(f):
            fail(f"missing source {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def check_entry():
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    m = re.search(r'def entry\(spark: SparkSession\): DataFrame = \{\s*val d = "[^"]*"(.*?)\n  \}', src, re.S)
    if not m or m.group(1).split() != ENTRY_BODY.split():
        fail("SparkEntry.entry no longer matches the warm-up Client.setup runs; update both")


def build():
    """Compiles the library and the client once per source state and
    returns the client's runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "classpath.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp}").strip()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export client/Runtime/fullClasspath"],
                           cwd=CLIENT, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


def dataset():
    """Prepares the inputs once; every seed reads the same tables."""
    path = os.path.join(WORK, "data")
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        inputs.prepare(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def java_cmd(cp, run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return [java, *opens, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            "-cp", cp, "perfbench.Client", *args]


def launch(cmd, log_path):
    """Starts one fresh JVM; returns (process, seconds from spawn to READY)."""
    log = open(log_path, "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    line = p.stdout.readline()
    if line.strip() != "READY":
        p.kill()
        p.wait()
        fail(f"JVM did not become ready; see {log_path}")
    return p, time.perf_counter() - t0


def finish(p, log_path):
    try:
        p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    if p.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"JVM exited with {p.returncode}")


def tail(samples):
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), its percentile and the sample count. With ten
    samples or fewer no percentile qualifies and the maximum stands in."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    cp = build()
    check_entry()
    t_start = time.perf_counter()
    data = dataset()
    names = list(w["queries"])
    random.Random(a.seed).shuffle(names)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = os.path.join(run_dir, "res")
    qfile = os.path.join(run_dir, "queries.txt")
    open(qfile, "w").write("\n".join(names) + "\n")
    cpus = str(len(os.sched_getaffinity(0)))

    p, setup_s = launch(java_cmd(cp, run_dir, [
        "--cpus", cpus, "--warm", inputs.WARM_DIR, "--data", data, "--queries", qfile,
        "--job", str(int(w["job"])), "--warmups", str(w["warmups"]),
        "--passes", str(w["passes"]), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--out", res]), os.path.join(run_dir, "run.log"))
    finish(p, os.path.join(run_dir, "run.log"))
    t_jvm = time.perf_counter()

    passes = [json.loads(l) for l in open(os.path.join(res, "passes.jsonl"))]
    run = json.load(open(os.path.join(res, "run.json")))
    timed = [p_ for p_ in passes if not p_["warmup"]]
    pass_dirs = {p_["pass"]: os.path.join(res, "check", str(p_["pass"])) for p_ in timed
                 if os.path.isdir(os.path.join(res, "check", str(p_["pass"])))}
    by_dir = oracle.check(data, list(pass_dirs.values()), sorted(set(names)),
                          os.path.join(run_dir, "duckdb"))
    checks = {i: by_dir[d] for i, d in pass_dirs.items()}
    print(f"perfbench: set-up {setup_s:.1f} s, JVM {t_jvm - t_start:.1f} s, "
          f"oracle {time.perf_counter() - t_jvm:.1f} s, passes (start, length) "
          f"{[(round((p_['t0'] - passes[0]['t0']) / 1e6, 1), round((p_['t1'] - p_['t0']) / 1e6, 1)) for p_ in passes]}",
          file=sys.stderr)

    # Every timed execution is attempted. The first and the last timed pass
    # are checked against the oracle by their own dumps; an execution of a
    # pass in between takes the verdict of both. One that threw or whose
    # check failed failed and is not a latency sample.
    def ok(p_, q):
        if q["error"]:
            return False
        if p_["pass"] in checks:
            return checks[p_["pass"]][q["name"]][0]
        return all(c[q["name"]][0] for c in checks.values())

    untraced = [p_ for p_ in timed if not p_["traced"]]
    traced = [p_ for p_ in timed if p_["traced"]]
    attempted = sum(len(p_["queries"]) for p_ in timed)
    failed = sum(1 for p_ in timed for q in p_["queries"] if not ok(p_, q))
    lat = [(q["exec1"] - q["build0"]) / 1e6 for p_ in untraced for q in p_["queries"] if ok(p_, q)]
    if not lat:
        fail(f"no query of {a.workload} succeeded: {checks}")

    def pass_s(p_):
        return sum((q["exec1"] - q["build0"]) / 1e6 for q in p_["queries"])

    # The input tables a workload reads are the ones its oracles name.
    first = timed[0]["pass"]
    sql = " ".join(json.load(open(os.path.join(pass_dirs[first], "oracle_sql.json"))).values())
    input_bytes = sum(dir_bytes(os.path.join(data, f"{t}.parquet")) for t in oracle.TABLES
                      if re.search(rf"\b{t}\b", sql))
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": int(cpus), "passes": len(passes),
        "queries": names,
        "query_s": {n: round(statistics.median((q["exec1"] - q["build0"]) / 1e6 for p_ in untraced
                                               for q in p_["queries"] if q["name"] == n), 4)
                    for n in names},
        "failed_ratio": failed / attempted,
        "failed_queries": {f"{n}@pass{i}": c[1] for i, cs in checks.items()
                           for n, c in sorted(cs.items()) if not c[0]},
        "errors": sorted({q["name"] + ": " + q["error"] for p_ in passes for q in p_["queries"] if q["error"]}),
        "store_bytes": untraced[0]["store_bytes"], "store_files": untraced[0]["store_files"],
        "store_bytes_ratio": untraced[0]["store_bytes"] / input_bytes if input_bytes else 0.0,
    }
    if a.trace:
        rows = {n: c[2] for n, c in checks[first].items()}
        report = trace.analyse(os.path.join(res, "events.jsonl"), passes, rows, int(cpus))
        # The first timed pass can still pay for JIT compilation, so the
        # untraced reference is the untraced passes after it.
        report["trace.pass_s"] = statistics.median(pass_s(p_) for p_ in traced)
        report["trace.overhead_ratio"] = report["trace.pass_s"] / statistics.median(
            pass_s(p_) for p_ in untraced[1:])
        report["io.store_bytes_ratio"] = detail["store_bytes_ratio"]
        trace_file = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        json.dump({"detail": detail, "per_query": report.pop("per_query"),
                   "spans": report.pop("spans")}, open(trace_file, "w"), indent=1)
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        metrics = {k: {"value": v, "unit": trace.UNITS[k]} for k, v in sorted(report.items())}
    else:
        t, pct, n = tail(lat)
        detail.update(tail_percentile=round(pct, 2), tail_samples=n)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(pass_s(p_) for p_ in untraced), "unit": "s"},
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "latency_tail_s": {"value": t, "unit": "s"},
            "heap_retained_mb": {"value": run["heap_retained_bytes"] / 2 ** 20, "unit": "MB"},
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
