#!/usr/bin/env python3
"""Benchmark launcher: builds the benchmark (with the engine's sources) if
needed, then runs one workload in one JVM and relays its result line.

    python3 perfbench/run.py --workload ingest|maintain \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The last line of standard output is one
JSON object with `correct`, `attempted`, `failed` and `metrics`. The exit
code is 0 only when the run completed and every output check passed.
The build compiles the engine through its own sbt build (output in the
repository's target/ and project/target/) and the benchmark into
perfbench/target and perfbench/project; run scratch (indexes, stores,
spans files) goes to perfbench/.work.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(BENCH, "src", "main")
# written by the build (`launchSpec` in perfbench/build.sbt): the engine's
# JVM options and the runtime classpath
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
# build inputs besides the sources: both sbt builds
BUILD_FILES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest", "maintain")


_children = []


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def _kill_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and after it exits, so nothing it started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        _children.remove(p)
    return p.returncode


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    for path in BUILD_FILES:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    with open(os.path.join(BENCH, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        if os.path.exists(LAUNCH) and os.path.exists(STAMP):
            with open(STAMP) as fh:
                if fh.read().strip() == digest:
                    return
        if shutil.which("sbt") is None:
            fail("sbt not found on PATH")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        # keep sbt's temp files (server socket, file watcher, JNA) in the
        # build directory
        tmp = os.path.join(BENCH, "target", "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for sbt's own java probes
        if os.path.exists(LAUNCH):
            os.remove(LAUNCH)
        log_path = os.path.join(BENCH, "target", "build.log")
        with open(log_path, "w") as log:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"],
                           BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                           stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(LAUNCH):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"build failed (exit {rc}); log in {log_path}", 3)
        with open(STAMP, "w") as fh:
            fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not all(os.path.exists(p) for p in [os.path.join(ENGINE_SRC, "scala", "graft")] + BUILD_FILES):
        fail(f"engine sources or build files not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    signal.signal(signal.SIGTERM, _kill_children)
    build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opts, cp = [], []
    with open(LAUNCH) as fh:
        for line in fh.read().splitlines():
            kind, _, value = line.partition(" ")
            (opts if kind == "opt" else cp).append(value)
    cmd = ["java"] + opts + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-cp", ":".join(cp), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", run_dir]
    out_path = os.path.join(WORK, "last-stdout.txt")
    err_path = os.path.join(WORK, "last-stderr.txt")
    t0 = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err,
                       stdin=subprocess.DEVNULL)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(out_path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run produced no result line (exit {rc}, {time.time() - t0:.1f}s)", 4)
    for line in lines:
        print(line)
    sys.stdout.flush()
    if rc != 0 or not result["correct"]:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-20:]))
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()
