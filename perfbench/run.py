#!/usr/bin/env python3
"""Benchmark for graft: builds the library and the harness from source, runs
one workload in a fresh JVM and relays its result.

    python3 perfbench/run.py --workload <declared_suite|bigclam_fit>
        --seed <n> --seconds <s> --trace <0|1> [--full] [--record]

Run from the root of a checkout. The first run builds with sbt (offline) and
caches the classpath under perfbench/work/; later runs start the JVM
directly. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it are the
run stamp and a report with every metric under its workload-specific name.
With --trace 1 the per-span trace is written to
perfbench/work/<workload>/trace-seed<n>.json.

--full runs every declared query once (declared_suite); --record rewrites
the committed expected outputs for this workload (and seed) from this run.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("declared_suite", "bigclam_fit")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the library's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(src_hash):
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("hash") == src_hash and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        log(f"build failed (exit {code})")
        sys.exit(6)
    cp = [l for l in out.splitlines()
          if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cp:
        sys.stderr.write(out)
        log("build printed no classpath")
        sys.exit(6)
    classpath = cp[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": src_hash, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def heap_mb():
    """A quarter of the machine's memory, within [2, 6] GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(6144, kb // 1024 // 4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(HERE, "data", "sf0.1", "lineitem.parquet")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        log("not a graft checkout, missing: " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
        sys.exit(2)

    src_hash = source_hash()
    classpath = build(src_hash)
    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run lasts well under a minute, too short for C2 to reach
    # steady state, and C2's background compiles compete with the task
    # threads for the same cores
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "--enable-native-access=ALL-UNNAMED"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", os.pathsep.join(classpath), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", ROOT]
           + (["--full"] if a.full else []) + (["--record"] if a.record else []))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env["GRAFTBENCH_COMMIT"] = git_commit() or f"source-sha256:{src_hash[:16]}"
    timeout = None if (a.full or a.record) else RUN_TIMEOUT_S
    code, out = run_group(cmd, timeout, cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, text=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        sys.exit(5)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        log(f"run failed (exit {code})")
        sys.exit(code or 7)
    for l in lines:
        print(l)
    sys.exit(0)


if __name__ == "__main__":
    main()
