#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness together
with the engine's sources (sbt, offline) and caches the classpath; later
runs rebuild only when a source file changed. The harness JVM runs at
local[4] with a 3 GiB heap in a fresh work directory that is removed
afterwards. The last line of standard output is the result JSON; with
--trace 1 the span file is written under perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.classpath.json")
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s; the build is not counted

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Digest of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first if the sources changed."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building the harness and the engine (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the jars directory the root build names, i.e. $SPARK_HOME/jars
        with open(os.path.join(ROOT, "build.sbt")) as f:
            jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if jars:
            env["SPARK_HOME"] = os.path.dirname(jars.group(1))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench


def run_jvm(cp, args, work, result, spans):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result, "--spans", spans]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's stdout goes to stderr: stdout carries only the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {DEADLINE_S} s; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def stop_on_signal(signum, _frame):
    # unwinds through run_jvm's finally, which stops the JVM
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_signal)
    signal.signal(signal.SIGINT, stop_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    bench = declared_metrics()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        log(f"unknown workload {args.workload}")
        return 2
    declared = bench["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    spans = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.spans.json")
    try:
        started = time.time()
        code = run_jvm(cp, args, work, result, spans)
        if code != 0 or not os.path.exists(result):
            log(f"harness JVM failed (exit {code}) after {time.time() - started:.1f} s")
            return 1
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    extra = sorted(set(got) - {m["name"] for m in declared})
    if missing or extra:
        log(f"metric set differs from BENCHMARK.json: missing {missing}, extra {extra}")
        return 1
    for e in res.get("errors", []):
        log(f"check failed: {e}")

    # human-readable lines first; the result JSON is the last line
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"attempted {res['attempted']}  failed {res['failed']}  "
          f"failed_ratio {res['failed'] / res['attempted']:.4f} ratio")
    for m in declared:
        print(f"  {m['name']:<34} {got[m['name']]:>16.6g} {m['unit']}")
    if args.trace:
        print(f"  spans written to {os.path.relpath(spans, ROOT)}")
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
