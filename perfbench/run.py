#!/usr/bin/env python3
"""The repository's benchmark: workloads of the DEMV/Spark library.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

BENCHMARK.json declares fair-cv and curate; demv-bulk runs on request
(see NOTES.md). The first run builds the library and this benchmark with
sbt (the build is redone whenever a source file changes) and writes the
classpath under the build directory: $CARGO_TARGET_DIR if set, else
.bench_build. Each run starts one JVM (perfbench.Main) at local[nproc].
The JVM makes the inputs (from the seed where a generator takes one), runs
an untimed warm-up pass, then whole passes of the workload's ops until
--seconds have gone, and checks the outputs. This script adds the DuckDB
comparison of query results, computes the metrics and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 1 reports the per-layer metrics instead of the end-to-end ones and
writes the spans to <build dir>/work/trace-<workload>.json. The line
before it holds details (tail percentile, tracing overhead, check
messages).

--smoke runs every workload on small inputs, checks that every metric name
and unit is printed, and that a corrupted DEMV output is caught in
demv-bulk and in fair-cv.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["fair-cv", "curate", "demv-bulk"]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [p for p in tops if os.path.isfile(p)]
    for t in trees:
        for dp, _, fs in os.walk(t):
            files += [os.path.join(dp, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, out, timeout, env=None):
    """Run a child process to its end; kill it on timeout or when this
    script is stopped, and wait for it either way. Returns its exit code,
    None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def build(bdir):
    """sbt-compile the library and the benchmark once per source state."""
    launch = os.path.join(bdir, "launch.txt")
    stamp_file = os.path.join(bdir, "launch.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"], HERE, out,
                       BUILD_TIMEOUT_S, env)
    produced = os.path.join(HERE, "target", "launch.txt")
    if rc != 0 or not os.path.exists(produced):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.copyfile(produced, launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def steal_s():
    """Host steal time of all CPUs so far, in seconds (0 if unknown)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(launch, bdir, workload, seed, seconds, trace, flags=()):
    cp, opts = "", []
    for line in open(launch).read().splitlines():
        key, _, val = line.partition("=")
        if key == "classpath":
            cp = val
        elif key == "jvmopt":
            opts.append(val)
    work = os.path.join(bdir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    shutil.rmtree(os.path.join(work, "oracle", workload), ignore_errors=True)
    cmd = (["java"] + opts + ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
                              str(trace), ROOT, work] + list(flags))
    log = os.path.join(work, f"jvm-{workload}.log")
    # Spark prefers this variable to spark.local.dir; the JVM's scratch
    # files must stay under the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, out, JVM_TIMEOUT_S, env)
    if rc is None:
        fail(f"{workload}: the JVM ran over {JVM_TIMEOUT_S} s; log in {log}")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{workload}: the JVM exited with {rc}; log in {log}")
    return json.load(open(result)), work


def oracle_failures(work, workload):
    """Compare query results with DuckDB running the oracle SQL, by the
    method of tools/oracle_check.py (whose canonical row form is reused)."""
    spec_path = os.path.join(work, "oracle", workload, "oracle.json")
    if not os.path.exists(spec_path):
        return {}
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import canon
    spec = json.load(open(spec_path))
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
    for name in sorted(os.listdir(spec["tables"])):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(spec['tables'], name)}/*.parquet')")
    bad = {}
    for q, sql in sorted(spec["sql"].items()):
        try:
            files = os.path.join(spec["results"], q, "*.parquet")
            rel = con.execute(f"SELECT * FROM read_parquet('{files}')")
            gc, g = canon(rel.fetchall(), [d[0] for d in rel.description])
            rel = con.execute(sql)
            wc, w = canon(rel.fetchall(), [d[0] for d in rel.description])
        except Exception as e:  # a query that cannot be compared is a failure
            bad[q] = f"oracle compare error: {e}"
            continue
        if gc != wc:
            bad[q] = f"columns {gc} vs oracle {wc}"
        elif g != w:
            bad[q] = f"{len(g)} rows vs oracle {len(w)}, {sum(a != b for a, b in zip(g, w))} differ"
    return bad


def tail(lat):
    """Latency at the highest of the 99th, 95th, 90th and 75th percentiles
    (nearest rank) with at least ten ops beyond it; with fewer than 40 ops
    none qualifies and the slowest op is the tail. Returns (latency,
    percentile, ops beyond)."""
    s = sorted(lat)
    n = len(s)
    for pct in (99, 95, 90, 75):
        rank = math.ceil(pct / 100 * n)
        if n - rank >= 10:
            return s[rank - 1], float(pct), n - rank
    return s[-1], 100.0, 0


def end_to_end(res, t0):
    ops = res["ops"]
    lat = [o["s"] for o in ops]
    window = res["window_s"]
    t, pct, beyond = tail(lat)
    metrics = {
        "setup_s": res["first_op_epoch_ms"] / 1000.0 - t0,
        "wall_s": statistics.median(res["pass_s"]),
        "ops_per_s": len(ops) / window,
        "items_per_s": sum(o["items"] for o in ops) / window,
        "op_s.p50": statistics.median(lat),
        "op_s.tail": t,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, {"tail_percentile": round(pct, 3), "tail_ops_beyond": beyond,
                     "ops": len(ops), "passes": len(res["pass_s"]), "window_s": window}


def op_medians(res):
    by = {}
    for o in res["ops"]:
        by.setdefault(o["name"], []).append(o["s"])
    return {k: statistics.median(v) for k, v in by.items()}


def measure(bench, launch, bdir, workload, seed, seconds, trace, flags=()):
    stamp = open(os.path.join(bdir, "launch.stamp")).read()
    t0 = time.time()
    steal0 = steal_s()
    res, work = run_jvm(launch, bdir, workload, seed, seconds, trace, flags)
    steal = steal_s() - steal0
    metrics, detail = end_to_end(res, t0)
    detail["host_steal_s"] = round(steal, 3)
    detail["setup_phases_ms"] = res["phases"]
    ops = res["ops"]
    bad = oracle_failures(work, workload)
    messages = ([f"{o['name']}: {o['error']}" for o in ops if not o["ok"]] + res["check_failures"] +
                [f"{q}: {m}" for q, m in sorted(bad.items())])
    # a wrong query result counts against every timed op of that query; a
    # failed warm-up check belongs to no single op and counts as one
    wrong = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    failed = min(len(ops), wrong + len(res["check_failures"]))
    detail["failed_ratio"] = failed / len(ops)
    detail["checks_failed"] = messages[:20]
    last = os.path.join(bdir, f"last-untraced-{workload}.json")
    if trace:
        layer = res["per_layer"]
        names = [m["name"] for m in bench["per_layer"]]
        out = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
               for n, u in ((m["name"], m["unit"]) for m in bench["per_layer"])}
        detail["unlisted_layers"] = sorted(set(layer) - set(names))
        base = json.load(open(last)) if os.path.exists(last) else {}
        if (base.get("seed"), base.get("source"), base.get("flags")) == (seed, stamp, list(flags)):
            detail["tracing_overhead"] = {k: metrics[k] - base["metrics"][k] for k in metrics}
            detail["replay_op_s_minus_untraced"] = {
                k: v - base["op_s"][k] for k, v in op_medians(res).items() if k in base["op_s"]}
        else:
            detail["tracing_overhead"] = ("no baseline: run --trace 0 first, with this seed "
                                          "on this source")
        detail["traced_end_to_end"] = metrics
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        with open(last, "w") as f:
            json.dump({"seed": seed, "source": stamp, "flags": list(flags), "metrics": metrics,
                       "op_s": op_medians(res)}, f)
    return {"correct": not messages, "attempted": len(ops), "failed": failed, "metrics": out}, detail


def smoke(bench, launch, bdir):
    """Tiny runs of every workload, plain and traced, and a corrupted one."""
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r, d = measure(bench, launch, bdir, w, 1, 1, trace, ["smoke"])
            want = bench["per_layer" if trace else "end_to_end"]
            for m in want:
                got = r["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or wrong unit")
                elif not trace and not got["value"] > 0:
                    problems.append(f"{w}: metric {m['name']} is {got['value']}")
            if not r["correct"]:
                problems.append(f"{w} trace={trace}: checks failed: {d['checks_failed']}")
            print(f"smoke {w} trace={trace}: correct={r['correct']} ops={r['attempted']}", flush=True)
    for w in ("demv-bulk", "fair-cv"):
        r, d = measure(bench, launch, bdir, w, 1, 1, 0, ["smoke", "corrupt"])
        if r["correct"] or r["failed"] == 0:
            problems.append(f"{w}: a corrupted DEMV output was not caught")
        else:
            print(f"smoke corrupt {w}: caught ({d['checks_failed'][0][:100]})", flush=True)
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 0 if not problems else 1


def main():
    # a stop signal unwinds through run_child, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        fail("--workload is required")
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "data"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout of the repository")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bdir = build_dir()
    launch = build(bdir)
    if a.smoke:
        sys.exit(smoke(bench, launch, bdir))
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    result, detail = measure(bench, launch, bdir, a.workload, a.seed, seconds, a.trace)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
