#!/usr/bin/env python3
"""Benchmark of the graft engine: the Play-Store insights job and a mix of
declared queries, each in one local[nproc] Spark session.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --all --seed N [--seconds S]
    python3 perfbench/run.py --freeze-fingerprints [--seed N]
    python3 perfbench/run.py --select-mix

The first call builds the engine plus the harness from source with sbt
into .bench_build/ (rebuilt whenever a source file changes). Each run then
starts the measurement JVM a few times for set-up samples, runs the
workload for --seconds, checks its output outside the timed region, and
prints a JSON object with keys correct, attempted, failed and metrics as
the last line of stdout: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Every run also appends its full record (per
iteration samples, host context, corpus digest, steal) to
.bench_build/results.jsonl; compare.py reads two such files.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
FINGERPRINTS = os.path.join(HERE, "ops_fingerprints.json")
SETUP_PROBES = 1          # extra JVM start-ups per run, besides the measured one
JVM_TIMEOUT_S = 150
OPS_SF = 0.01
OPS_TABLE_SEED = 42       # the ops tables are fixed; the run seed orders the queries

MIX = os.path.join(HERE, "ops_mix.json")
SURVEY_TIMEOUT_S = 2400

WORKLOADS = {
    "insights": {"mode": "insights", "rows": 100000, "developers": 5000, "k": 6},
    "ops_mix": {"mode": "ops"},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile engine + harness with sbt unless the classes match the sources."""
    if not os.path.isdir(ENGINE_SRC) or not os.environ.get("SPARK_HOME"):
        fail("needs the engine sources under src/main/scala and SPARK_HOME set")
    h = hashlib.sha256()
    for p in source_files():
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(BUILD, "build.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == digest \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state (server socket, caches it writes) stays in the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dsbt.global.base={BUILD}/sbt-global"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log_path}", 1)
    with open(stamp_path, "w") as f:
        f.write(digest)


def java_cmd(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    return cmd + ["-cp", cp, "perfbench.Main"]


def jvm(mode, work, args, timeout=JVM_TIMEOUT_S):
    """Runs the measurement JVM once; returns its result object."""
    out = os.path.join(work, f"{mode}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, f"{mode}.log"), "a")
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(work) + [mode, "--out", out, "--work", work,
                            "--cores", str(os.cpu_count()), "--launch-ms", str(launch_ms)]
    p = subprocess.Popen(cmd + args, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return {"error": f"{mode} JVM timed out after {timeout} s"}
    finally:
        log.close()
    if not os.path.exists(out):
        return {"error": f"{mode} JVM exited rc={p.returncode} without a result"}
    with open(out) as f:
        return json.load(f)


def ensure_tables():
    d = os.path.join(BUILD, "data", f"ops-sf{OPS_SF}-seed{OPS_TABLE_SEED}")
    if not os.path.exists(os.path.join(d, "DONE")):
        work = os.path.join(BUILD, "work", f"gen-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        r = jvm("tables", work, ["--tables", d, "--sf", str(OPS_SF),
                                 "--seed", str(OPS_TABLE_SEED)])
        shutil.rmtree(work, ignore_errors=True)
        if "error" in r:
            fail(f"table generation failed: {r['error']}", 1)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_once(workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        common = ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        if spec["mode"] == "insights":
            args = common + ["--rows", str(spec["rows"]),
                             "--developers", str(spec["developers"]), "--k", str(spec["k"])]
        else:
            names = mix_queries()
            random.Random(seed).shuffle(names)
            args = common + ["--tables", ensure_tables(), "--queries", ",".join(names)]
        probes = [jvm("probe", work, []) for _ in range(SETUP_PROBES)]
        res = jvm(spec["mode"], work, args)
        spans = os.path.join(work, "spans.jsonl")
        if trace and os.path.exists(spans):
            dest = os.path.join(BUILD, "spans", f"{workload}-seed{seed}.jsonl")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(spans, dest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in probes:
        if "error" in p:
            res.setdefault("error", p["error"])
    res["setup_probes"] = [p.get("setup") for p in probes]
    return res


def mix_queries():
    with open(MIX) as f:
        return [m["query"] for m in json.load(f)["modules"].values()]


def select_mix():
    """Re-derives ops_mix.json: runs every declared query through the ops
    workload (warm-up plus three timed passes, the middle one traced) and
    picks, per module, the query whose median time is nearest the module's
    median (ties by name). Also records the full surface's busy fraction
    and jobs per query, which the mix's traced run should resemble."""
    work = os.path.join(BUILD, "work", f"select-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        modules = jvm("list", work, []).get("modules")
        if not modules:
            fail("could not list the declared queries", 1)
        names = sorted(q for qs in modules.values() for q in qs)
        res = jvm("ops", work, ["--seed", "0", "--seconds", "0", "--trace", "1",
                                "--tables", ensure_tables(), "--queries", ",".join(names)],
                  timeout=SURVEY_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if "error" in res or res["query_failures"]:
        fail(f"survey failed: {res.get('error') or res['query_failures']}", 1)
    qs = {q: median(ts) for q, ts in res["query_s"].items()}
    picks = {}
    for m, members in sorted(modules.items()):
        mid = median([qs[q] for q in members])
        q = min(sorted(members), key=lambda q: abs(qs[q] - mid))
        picks[m] = {"query": q, "query_s": round(qs[q], 4), "module_median_s": round(mid, 4),
                    "module_queries": len(members)}
    layers = res["layers"]
    doc = {"rule": "per module, the declared query whose median time over three timed "
                   "passes of all declared queries is nearest the module's median (ties by "
                   "name), on the generated sf0.01 tables",
           "full_surface": {"queries": len(names),
                            "pass_s": round(median([i["wall_s"] for i in res["iterations"]]), 3),
                            "busy_frac": round(layers["spark.busy_frac"], 4),
                            "jobs_per_query": round(layers["ops.jobs_per_query"], 3)},
           "modules": picks}
    with open(MIX, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps(doc, indent=1))


def evaluate(workload, res, trace):
    """Builds the contract line (correct/attempted/failed/metrics) and a
    list of failure descriptions from one run's record."""
    problems = []
    if "error" in res:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}, [res["error"]]
    mode = WORKLOADS[workload]["mode"]
    its = res["iterations"]
    if mode == "insights":
        attempted = res["checks"]["attempted"]
        failed = res["checks"]["failed"]
        if failed:
            problems.append(f"insights outputs {res['checks']['got']} != "
                            f"reference {res['checks']['want']}")
    else:
        # unit: one query execution (warm-up and timed passes alike); one
        # fails if it throws or if its written result differs from the
        # frozen fingerprint
        frozen = json.load(open(FINGERPRINTS)) if os.path.exists(FINGERPRINTS) else {}
        failed = res["failed_runs"]
        attempted = failed + sum(len(fps) for fps in res["fingerprints"].values())
        for q, why in res["query_failures"].items():
            problems.append(f"{q}: {why}")
        for q, fps in res["fingerprints"].items():
            bad = [fp for fp in fps if fp != frozen.get(q)]
            failed += len(bad)
            if bad:
                problems.append(f"{q}: {len(bad)}/{len(fps)} outputs with fingerprint "
                                f"{bad[0]} != frozen {frozen.get(q)}")
    setups = [res["setup"]] + res["setup_probes"]
    if trace:
        layers = dict(res["layers"])
        layers["setup.jvm_s"] = median([s["jvm_s"] for s in setups])
        layers["setup.session_s"] = median([s["session_s"] for s in setups])
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in per_layer_spec()}
    else:
        values = {"setup_s": median([s["jvm_s"] + s["session_s"] for s in setups]),
                  "wall_s": median([i["wall_s"] for i in its]),
                  "cpu_s": median([i["cpu_s"] for i in its]),
                  "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    line = {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}
    return line, problems


def sample_count(res, metric, trace):
    """Samples behind one reported value of a run."""
    if metric.startswith("setup"):
        return 1 + len(res.get("setup_probes", []))
    if metric == "peak_rss_mb":
        return 1
    return len([i for i in res.get("iterations", []) if i["traced"] == bool(trace)])


def per_layer_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def record(workload, seed, seconds, trace, res, line):
    rec = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "time": time.time(), "result": line, "detail": res}
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--freeze-fingerprints", action="store_true")
    ap.add_argument("--select-mix", action="store_true")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build()
    if a.select_mix:
        select_mix()
        return
    if a.freeze_fingerprints:
        res = run_once("ops_mix", a.seed, 0, 0)
        if "error" in res or res["query_failures"]:
            fail(f"cannot freeze: {res.get('error') or res['query_failures']}", 1)
        unsteady = {q: fps for q, fps in res["fingerprints"].items() if len(set(fps)) != 1}
        if unsteady:
            fail(f"cannot freeze, outputs differ between passes: {unsteady}", 1)
        with open(FINGERPRINTS, "w") as f:
            json.dump({q: fps[0] for q, fps in sorted(res["fingerprints"].items())}, f, indent=1)
            f.write("\n")
        print(f"froze {len(res['fingerprints'])} fingerprints to {FINGERPRINTS}")
        return
    names = sorted(WORKLOADS) if a.all else [a.workload] if a.workload else None
    if not names:
        fail("give --workload NAME or --all")
    ok = True
    lines = {}
    for w in names:
        res = run_once(w, a.seed, a.seconds, a.trace)
        line, problems = evaluate(w, res, a.trace)
        record(w, a.seed, a.seconds, a.trace, res, line)
        for m, v in line["metrics"].items():
            print(f"{w:10s} {m:34s} {v['value']:14.6g} {v['unit']:8s} "
                  f"n={sample_count(res, m, a.trace)}", file=sys.stdout if a.all else sys.stderr)
        for p in problems:
            print(f"{w} CHECK FAILED: {p}", file=sys.stderr)
        ok = ok and line["correct"]
        lines[w] = line
    if a.all:
        print(json.dumps({
            "correct": ok, "attempted": sum(x["attempted"] for x in lines.values()),
            "failed": sum(x["failed"] for x in lines.values()),
            "metrics": {f"{w}.{m}": v for w, x in lines.items() for m, v in x["metrics"].items()}}))
    else:
        print(json.dumps(lines[names[0]]))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
