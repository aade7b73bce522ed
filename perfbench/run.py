#!/usr/bin/env python3
"""graft benchmark: one workload in a fresh JVM, closed loop, one client.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. A run

1. compiles the program (src/main/scala) and the harness once per source
   state into the build directory ($CARGO_TARGET_DIR, else .bench_build);
2. generates the input tables from --seed (gen.py) into a directory the run
   owns, beside its own java.io.tmpdir and SPARK_LOCAL_DIRS;
3. launches one JVM, which builds one local[k] session and passes
   Tables.smokeCheck (setup_s), then runs the workload: a cold pass, then
   warm passes (at least two) until --seconds have gone by since the cold
   pass began, every result through the noop sink; then, untimed, one more
   pass that writes every result as parquet;
4. checks those outputs (check.py) after the JVM has exited, and removes
   the run directory.

The last line of stdout is the result: end-to-end metrics with --trace 0,
per-layer metrics (harness timers + a SparkListener) with --trace 1. Each
run also appends one record to perfbench/out/runs.jsonl; a traced run
writes its per-layer metrics to perfbench/out/trace-<workload>.json.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    "dashboard": (0.1, ["q01_pricing_summary", "q18_star_join_revenue", "q22_window_tumbling"]),
    "loops": (0.01, ["q106_pagerank", "q247_bpe_train"]),
    "compute": (0.03, ["q328_poisson_bootstrap", "q343_pca_power", "q44_ml_corr_matrix"]),
}
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            die("set SPARK_HOME to a Spark 4 installation")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def build(build_dir, jars):
    """Compile program + harness once per source state; return the classes dir."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        die(f"no program sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in program + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    sha = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{sha}")
    if os.path.isdir(classes):
        return classes, sha
    staging = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)  # creates build_dir too
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(program + harness))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", staging, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        die("compile failed:\n" + r.stdout[-4000:])
    os.rename(staging, classes)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes, sha


def jvm(classes, jars, run_dir, args, deadline):
    """Launch the harness JVM with its own tmp and local dirs; return result.json.
    The JVM is killed if it is still running at `deadline` (time.monotonic())."""
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Main",
           f"data={os.path.join(run_dir, 'data')}", f"out={out}", f"cores={CORES}", *args]
    with open(log, "w") as lf:
        cmd.append(f"launch_ns={time.time_ns()}")
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "killed at the run's deadline"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        die(f"JVM exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f), out


def cpu_ticks(since=None):
    """Aggregate /proc/stat CPU ticks; given an earlier reading, the share of
    ticks since then that the hypervisor stole (percent), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    if since is None:
        return ticks
    d = [b - a for a, b in zip(since, ticks)]
    return 100.0 * d[7] / max(1, sum(d))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, sha = build(build_dir, jars)
    # Every JVM of the run must have ended by then, so a run exits within
    # three minutes of its build even when one JVM hangs.
    deadline = time.monotonic() + 170

    sf, queries = WORKLOADS[a.workload]
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen.write(a.seed, sf, os.path.join(run_dir, "data"))
        load_before = os.getloadavg()[0]
        cpu_before = cpu_ticks()
        res, out = jvm(classes, jars, run_dir,
                       [f"queries={','.join(queries)}",
                        f"seconds={a.seconds}", f"trace={a.trace}"], deadline)
        steal = cpu_ticks(cpu_before) if cpu_before else None
        load_after = os.getloadavg()[0]
        problems = dict(res["check_errors"])
        problems.update(check.check(os.path.join(run_dir, "data"), out,
                                    [q for q in queries if q not in problems]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_queries = set(res["errors"]) | set(problems)
    passes = int(res["passes"])
    attempted = passes * len(queries)
    failed = passes * len(failed_queries)
    e2e = {k: res[k] for k in END_TO_END}
    layers = {k: res[k] for k in ("session.start_s", "session.smoke_s")}
    layers.update({k: v for k, v in res.items() if k.endswith((".cold", ".warm"))})

    record = {"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "metrics": e2e, "passes": passes,
              "attempted": attempted, "failed": failed,
              "errors": res["errors"], "wrong": problems, "query_s": res["query_s"],
              "warm_passes_s": res["warm_passes_s"],
              "load1_before": load_before, "load1_after": load_after,
              "steal_pct": steal, "peak_rss_mb": res["peak_rss_mb"],
              "cores": CORES, "heap": HEAP, "source_sha": sha}
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if a.trace:
        record["layers"] = layers
        with open(os.path.join(out_dir, f"trace-{a.workload}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failed_queries, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    base = name.removesuffix(".cold").removesuffix(".warm")
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("busy", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
