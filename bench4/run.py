#!/usr/bin/env python3
"""One-command runner for the 4-core benchmark.

    python3 bench4/run.py --workload suite-scan --seed 1 --seconds 12 --trace 0
    python3 bench4/run.py --workload suite-scan --seed 1 --repeat 5   # spread
    python3 bench4/run.py --self-test                                 # sbt test

Builds the library and the harness from the enclosing checkout with the
offline sbt environment of the repo's Tier-1 suite, then runs the workload
with a fixed heap on Spark local[k], k = min(4, available cores): one JVM
generates the input from the seed, a second sets up and measures. Every
metric is printed by name with its unit; the last stdout line is the result
JSON.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
CORES = min(4, len(os.sched_getaffinity(0)))
WORKLOADS = ["suite-scan", "suite-decode", "curate-dedup", "resume-edit"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench4] {msg}", file=sys.stderr, flush=True)


def files_under(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """The Tier-1 suite's offline sbt settings, with sbt's scratch files kept
    in bench4/target and no sbt server."""
    tmp = os.path.join(HERE, "target", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or SBT_OPTS) + (
        f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false -XX:-UsePerfData")
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    srcs = files_under(os.path.join(ROOT, "src", "main", "scala"),
                       os.path.join(HERE, "src", "main", "scala"))
    srcs += [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    stamp = digest(srcs)
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench4.classpath")
    stamp_file = os.path.join(target, "bench4.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java(cp, args, work, timeout):
    """Run bench4.Main with `work` as its cwd and scratch root; return its
    stdout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "bench4.Main"] + args
    p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                       text=True, timeout=timeout)
    if p.returncode != 0:
        raise SystemExit(f"bench4.Main exited with {p.returncode}")
    return p.stdout


def run_once(cp, workload, seed, seconds, trace):
    t0 = time.time()
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--work", work, "--cores", str(CORES)]
    try:
        java(cp, args + ["--generate", "1"], work, 70)
        log(f"input generated in {time.time() - t0:.1f} s")
        out = java(cp, args + ["--seconds", str(seconds)], work,
                   max(10.0, t0 + 175 - time.time()))
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(
                    HERE, ".traces", f"{workload}-s{seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"{workload} seed {seed} took {time.time() - t0:.1f} s")
    return json.loads(out.strip().splitlines()[-1])


def quartile_spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=1,
                    help="runs with seeds seed..seed+N-1; prints each metric's spread")
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests (sbt test)")
    a = ap.parse_args()
    for need in [os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "build.sbt")]:
        if not os.path.exists(need):
            log(f"missing {need}: run from a checkout of the repository")
            sys.exit(2)
    if a.self_test:
        os.makedirs(os.path.join(HERE, "target", "test-tmp"), exist_ok=True)
        sys.exit(subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                                cwd=HERE, env=sbt_env()).returncode)
    if not a.workload:
        ap.error("--workload is required")
    cp = build()
    log(f"heap {HEAP}, local[{CORES}], workload {a.workload}")
    results = []
    for k in range(a.repeat):
        r = run_once(cp, a.workload, a.seed + k, a.seconds, a.trace)
        results.append(r)
        for name, m in r["metrics"].items():
            print(f"{name} {m['value']} {m['unit']}")
        print(f"seed {a.seed + k}: correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}", flush=True)
    if a.repeat > 1:
        print(f"spread over {a.repeat} seeds (median q1 q3 (q3-q1)/median):")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            if all(isinstance(v, (int, float)) for v in vals) and statistics.median(vals):
                med, q1, q3, sp = quartile_spread(vals)
                print(f"  {name} {med:.6g} {q1:.6g} {q3:.6g} {sp:.4f}")
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        print(f"  failed_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    print(json.dumps(results[-1]), flush=True)


if __name__ == "__main__":
    main()
