#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload forward_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (the benchmark's build in perfbench/ depends on the
checkout's own build) and caches the runtime classpath under
.bench_build/; later runs reuse it while the sources are unchanged. The
measuring JVM is then started directly, without sbt.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only
when the run finished and every output check passed.
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

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: program and benchmark."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", BENCH_DIR]
    for root in roots:
        paths = [root] if os.path.isfile(root) else []
        for d, dirs, files in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp")
                             and not (x == "project" and os.path.basename(d) == "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    # sbt's own state (launcher, global settings) goes under the
    # checkout; dependencies resolve offline from the existing caches
    global_base = os.path.abspath(os.path.join(BUILD_DIR, "sbt-global"))
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp", "sbt"))
    os.makedirs(global_base, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={global_base}", f"-Djava.io.tmpdir={tmp}",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        raise SystemExit("perfbench: sbt printed no classpath")
    cp = lines[-1].strip()
    log(f"build done in {time.time() - t0:.1f} s")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def check_metric_names(a, result):
    """A workload listed in BENCHMARK.json must print exactly its metrics."""
    if not os.path.exists("BENCHMARK.json"):
        return
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        return
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = set(result["metrics"])
    if want != got:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(want - got)}, extra {sorted(got - want)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", os.path.join(BENCH_DIR, "build.sbt")):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: '{need}' not found; run from the root of a "
                             "checkout of the program")
    cp = build()
    # the program's temporary directories go under the checkout too
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp", f"run-{os.getpid()}"))
    os.makedirs(tmp, exist_ok=True)
    try:
        run(a, cp, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(a, cp, tmp):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", BUILD_DIR])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: run failed (exit {proc.returncode})")
    check_metric_names(a, json.loads(lines[-1]))
    sys.stdout.write(out)
    sys.stdout.flush()
    if '"correct":true' not in lines[-1]:
        sys.exit(1)


if __name__ == "__main__":
    main()
