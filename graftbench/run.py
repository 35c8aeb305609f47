#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a source checkout.

    python3 graftbench/run.py --workload registry_sync --seed 1 \
        --seconds 20 --trace 0 [--size full|smoke]

The first call in a checkout compiles the engine (src/main/scala) together
with the harness (graftbench/src) through graftbench/build.sbt; later calls
reuse the build while the sources are unchanged. The harness JVM writes its
result to a file and this script prints it as the last line of stdout.
Everything the run writes stays under .bench_build/ in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("registry_sync", "registry_resync", "query_suite")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's own build.sbt passes to its forked JVMs).
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
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    out = ["build.sbt", "graftbench/build.sbt",
           "graftbench/project/build.properties"]
    for top in ("src/main/scala", "graftbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout, env=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, env=env)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {cmd[0]}")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return p.returncode


def offline_env():
    """The build resolves only from the toolchain's local caches: the same
    offline defaults the engine's own test command sets, unless the
    caller already chose its own."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    return env


def classpath():
    """Compile engine + harness if the sources changed; return the runtime
    classpath recorded by the last successful build."""
    needed = ["build.sbt", "src/main/scala/graft", "src/test/resources/fixtures",
              "graftbench/build.sbt", "graftbench/src"]
    missing = [n for n in needed if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        log(f"not a graft checkout, missing: {', '.join(missing)}")
        sys.exit(2)
    fp = fingerprint(source_files())
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    out_path = os.path.join(BUILD, "sbt_export.txt")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "-J-XX:-UsePerfData", "compile",
                          "export Runtime / fullClasspath"],
                         HERE, BUILD_TIMEOUT_S, out, env=offline_env())
    with open(out_path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        log(f"build failed (rc={rc}); see {out_path}")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def heap():
    """Half the machine's memory, clamped to 2..6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
        return f"{max(2, min(6, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # every workload runs one fixed-size pass; the window is not used
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--record", action="store_true",
                    help="rewrite graftbench/expected/ from this run")
    a = ap.parse_args()

    cp = classpath()
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    args_file = os.path.join(run_dir, "java.args")
    with open(args_file, "w") as f:
        f.write("-cp\n" + cp + "\n")
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{heap()}",
        "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "@" + args_file,
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--trace", str(a.trace),
        "--size", a.size, "--root", ROOT, "--run-dir", run_dir,
        "--state-dir", os.path.join(BUILD, "state"),
        "--trace-out", os.path.join(trace_dir, run_id + ".jsonl"),
        "--out", result_path, "--record", "1" if a.record else "0",
    ]
    rc = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, sys.stderr)
    result = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or result is None:
        log(f"harness failed (rc={rc}), no result")
        sys.exit(1)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
