#!/usr/bin/env python3
"""graft benchmark: build the checkout, run one workload, check, report.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <ingest_pipeline|batch_gate|all>
                             --seed <n> --seconds <s> --trace <0|1>

`all` runs every workload BENCHMARK.json lists.

The first run in a checkout builds graft and the harness with sbt and
writes the historical topic template; later runs reuse both until a source
file changes. Everything the benchmark writes goes under .bench_build/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json for --trace 0, its per-layer metrics for --trace 1. The
lines before it list every metric with its unit and sample count. The full
result (environment, per-query rows, checks, trace self times) is kept in
.bench_build/results/. The exit code is 1 when any output check failed,
2 when the run could not be made.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_pipeline", "batch_gate")
HISTORY_BATCHES = 400
RUN_TIMEOUT_S = 170
# Layers a workload does not run through read 0 in its traced run (the
# workload is that layer's control).
NOT_EXERCISED = {
    "ingest_pipeline": ("queries.", "baseline1.", "widthN."),
    "batch_gate": ("net.", "channel.", "sources.", "gen."),
}

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_checked(cmd, log, timeout, cwd=ROOT, env=None):
    """Run a child in its own process group; kill the group on timeout, or
    when this process is stopped."""
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# What the build reads; with the launcher, the inputs and the expected
# outputs, the code a result measured.
BUILD_INPUTS = ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src")
CODE = BUILD_INPUTS + ("perfbench/run.py", "perfbench/data", "perfbench/expected_hashes.json")


def digest(tops):
    """Content digest of the files under `tops`: a change to the build
    inputs triggers a rebuild, and results of different code are told
    apart (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            rel = os.path.relpath(f, ROOT)
            parts = rel.split(os.sep)
            if "target" in parts or rel.count("project") > 1 or "__pycache__" in parts:
                continue
            with open(f, "rb") as fh:
                h.update(f"{rel}\n".encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java_cmd(classpath, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = []
    for p in JAVA_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    flags += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    return ["java"] + flags + ["-cp", classpath]


def build():
    """sbt-compile graft and the harness; write the topic template."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from the root of a graft checkout)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = digest(BUILD_INPUTS)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    open(log, "w").close()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cp_out = os.path.join(BUILD, "sbt_export.txt")
    open(cp_out, "w").close()
    rc = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], cp_out, 800, cwd=HERE, env=env)
    lines = [l.strip() for l in open(cp_out) if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(open(cp_out).readlines()[-30:]))
        die("build failed")
    classpath = lines[-1]
    template = os.path.join(BUILD, "topic_template")
    if os.path.exists(template):
        subprocess.run(["rm", "-rf", template], check=True)
    work = os.path.join(BUILD, "work", "template")
    rc = run_checked(java_cmd(classpath, work) + ["perfbench.Main", "make-topic", template,
                                                  str(HISTORY_BATCHES)], log, 600)
    if rc != 0:
        die("topic template failed; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tracing_overhead(result, results_dir, e2e_names):
    """Traced end-to-end metric minus the median of the untraced runs of
    the same workload, code and --seconds (0 with no such run yet)."""
    past = {n: [] for n in e2e_names}
    for name in sorted(os.listdir(results_dir)):
        if not name.endswith(".json") or not name.startswith(result["workload"] + "-t0-"):
            continue
        try:
            r = json.load(open(os.path.join(results_dir, name)))
        except (OSError, ValueError):
            continue
        if (r.get("env", {}).get("code_digest") != result["env"]["code_digest"]
                or r.get("seconds") != result["seconds"]):
            continue
        for n in e2e_names:
            if n in r.get("e2e", {}):
                past[n].append(r["e2e"][n])
    out = {f"trace.overhead.{n}": result["e2e"][n] - statistics.median(past[n]) if past[n] else 0.0
           for n in e2e_names}
    return out, {n: len(past[n]) for n in e2e_names}


def run_one(workload, seed, seconds, trace, bench, classpath, code):
    """One run of one workload; prints its metric lines, returns the
    result-line object."""
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    tag = f"{workload}-t{trace}-s{seed}-{int(time.time() * 1000)}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(results_dir, tag + ".json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    commit = git_commit()
    spawn_ms = int(time.time() * 1000)
    cmd = java_cmd(classpath, work) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--data", os.path.join(HERE, "data"), "--work", work, "--out", out,
        "--template", os.path.join(BUILD, "topic_template"),
        "--spawn-ms", str(spawn_ms), "--git-commit", commit, "--code-digest", code]
    rc = run_checked(cmd, log, RUN_TIMEOUT_S)
    subprocess.run(["rm", "-rf", work])
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        die(f"run failed (exit {rc}); log in {os.path.relpath(log, ROOT)}")
    result = json.load(open(out))

    e2e_specs = bench["end_to_end"]
    layer_specs = bench["per_layer"]
    if trace:
        over, nbase = tracing_overhead(result, results_dir, [m["name"] for m in e2e_specs])
        result["layers"].update(over)
        result["detail"]["tracing_overhead_base_runs"] = nbase
        for m in layer_specs:
            if m["name"].startswith(NOT_EXERCISED[workload]):
                result["layers"].setdefault(m["name"], 0.0)
        json.dump(result, open(out, "w"))
    specs = layer_specs if trace else e2e_specs
    source = result["layers"] if trace else result["e2e"]
    missing = [m["name"] for m in specs if m["name"] not in source]
    if missing:
        die(f"metrics missing from the run: {missing}")

    samples = result.get("samples", {})
    print(f"# {workload} seed={seed} trace={trace} nproc={result['env']['nproc']} "
          f"load@start={result['env']['load_avg_start']} commit={result['env']['git_commit']} "
          f"code={code}")
    for m in specs:
        n = samples.get(m["name"])
        print(f"{m['name']:36s} {source[m['name']]:14.4f} {m['unit']:6s}"
              + (f" n={n}" if n is not None else ""))
    print(f"{'failed_frac':36s} {result['failed_frac']:14.4f} 1      n={result['attempted']}")
    for flag in result["detail"].get("flags", []):
        print(f"# FLAG {flag}")
    for f in result["detail"].get("failures", [])[:10]:
        print(f"# FAILED {json.dumps(f)}")
    return {"correct": result["failed"] == 0, "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in specs}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through run_checked, which stops the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))

    bench = spec()
    classpath = build()
    code = digest(CODE)
    if a.workload != "all":
        line = run_one(a.workload, a.seed, a.seconds, a.trace, bench, classpath, code)
    else:
        lines = {w["name"]: run_one(w["name"], a.seed, a.seconds, a.trace, bench, classpath, code)
                 for w in bench["workloads"]}
        line = {"correct": all(l["correct"] for l in lines.values()),
                "attempted": sum(l["attempted"] for l in lines.values()),
                "failed": sum(l["failed"] for l in lines.values()),
                "metrics": {f"{w}.{k}": v for w, l in lines.items() for k, v in l["metrics"].items()}}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
