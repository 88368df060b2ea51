#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/` and
`target/`; later runs reuse that build while the sources are unchanged.
Each run starts one JVM (`graft.bench.Main`), which prints a `detail` line
and, as the last line of standard output, the result object:

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

Without the engine's sources next to it the script exits with code 2 and
prints no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
BENCH_DIR = "benchmark"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
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
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = ["src/main", os.path.join(BENCH_DIR, "src/main"), "project"]
    files = ["build.sbt", os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building engine and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed with code {p.returncode}")
        sys.exit(3)
    cp_lines = [ln for ln in p.stdout.splitlines()
                if ".jar" in ln and not ln.startswith("[")]
    if not cp_lines:
        log("build printed no classpath")
        sys.exit(3)
    classpath = cp_lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.abspath(os.path.join(BENCH_DIR, "log4j2.properties"))]
           + opens + ["-cp", classpath, "graft.bench.Main",
                      "--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--work", work])
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"JVM did not finish within {JVM_TIMEOUT_S} s")
        sys.exit(4)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile(os.path.join(BENCH_DIR, "build.sbt"))):
        log("run from the root of a checkout: the engine's sources are not here")
        sys.exit(2)

    classpath = build()
    work = os.path.abspath(os.path.join(
        BUILD_DIR, "run", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_jvm(classpath, args, work)
        traces = os.path.join(BUILD_DIR, "traces")
        for name in os.listdir(work):
            if name.startswith("spans-"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, name), os.path.join(traces, name))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        log(f"benchmark JVM exited with code {code}")
        sys.exit(code or 1)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        log("the JVM's last line is not a result")
        sys.exit(1)
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
