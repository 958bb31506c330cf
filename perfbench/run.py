#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the program and the
benchmark harness from source with sbt (the `perfbench` build compiles
the repository's own build as a dependency) and writes a launch file;
later calls rebuild only when a source or build file, or a class file on
the launch classpath, changed. Each call then starts one JVM that runs
the workload and prints, as its last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Everything else goes to
stderr.

The harness classes, the launch file and run scratch space stay under
`.bench_build/` in the repository root. The program's classes go to the
repository's `target/`, which its own sbt build shares (hence the class
check), and sbt's own metadata to the `project/target` directories of
both builds. The run's scratch directory is removed on exit.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ingest_paged", "curate_stages")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# -XX:-UsePerfData: no hsperfdata file in the system temp directory, so a
# run writes nothing outside the checkout
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file whose change must trigger a rebuild."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(files)


def stamp(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_stamp(launch):
    """Names, sizes and modification times of every file in the class
    directories on the launch classpath, so classes rewritten by another
    build since the last check force a rebuild."""
    h = hashlib.sha256()
    for entry in read_launch(launch)[0].split(os.pathsep):
        for d, dirs, names in os.walk(entry):
            dirs.sort()
            for n in sorted(names):
                st = os.stat(os.path.join(d, n))
                h.update(f"{os.path.join(d, n)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so no process outlives the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build(root, state):
    launch = os.path.join(state, "launch.txt")
    stamp_file = os.path.join(state, "build.stamp")
    want = stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().split() == [want, classes_stamp(launch)]:
                return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "compile", "writeLaunch"],
        BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(launch):
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(f"{want}\n{classes_stamp(launch)}\n")
    return launch


def read_launch(path):
    cp, opts = None, []
    with open(path) as fh:
        for line in fh:
            kind, _, value = line.rstrip("\n").partition(" ")
            if kind == "CLASSPATH":
                cp = value
            elif kind == "OPT":
                opts.append(value)
    if not cp:
        fail(f"no classpath in {path}")
    return cp, opts


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/cli/Main.scala",
                 "perfbench/build.sbt", "perfbench/data/documents.parquet"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    cp, opts = read_launch(build(root, state))

    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    trace_out = os.path.join(state, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opts +
           ["-cp", cp, "perfbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--cpus", cpus,
            "--work", work, "--data", os.path.join(root, "perfbench", "data"),
            "--trace-out", trace_out])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = valid_result(lines[-1]) if lines else None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr)
    if result is None:
        fail(f"no result line from the benchmark JVM (exit {code})")
    print(json.dumps(result))
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
