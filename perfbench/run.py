#!/usr/bin/env python3
"""Clone-and-query benchmark runner.

Run from the repository root:

    python3 perfbench/run.py --workload <clone|query> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark from source with sbt (once per
source state), copies the fixed seed-42 corpus next to the build (the
directories TESTDATA.md lists, or $PERFBENCH_TESTDATA/<scale>), runs one
measurement in a fresh JVM and relays its output. The last line of stdout
is the result JSON. The exit code is non-zero on a build failure, a
timeout, or any correctness mismatch.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("clone", "query")
SCALES = ("sf0.1", "sf0.01")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree is not rebuilt."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


CHILD = None


def stop_child():
    """Kills the running child's process group and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    # unwinds through run_bounded's and main's cleanup
    raise SystemExit(128 + signum)


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = CHILD.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{cmd[0]} did not finish within {limit} s")
    finally:
        stop_child()
    return CHILD.returncode, out, err


def build():
    stamp_file = os.path.join(WORK, "classpath.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    # the Derby source backup was staged by the previous build's code
    shutil.rmtree(os.path.join(WORK, "derby-source"), ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def corpus_dir(sf):
    """Where the corpus at scale `sf` lives: $PERFBENCH_TESTDATA/<sf>, else
    the directory TESTDATA.md lists for it."""
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.path.join(os.environ["PERFBENCH_TESTDATA"], sf)
    doc = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        with open(doc) as f:
            for path in re.findall(r"`([^`]+/)`", f.read()):
                if os.path.basename(path.rstrip("/")) == sf:
                    return path
    fail(f"no corpus directory for {sf}: set PERFBENCH_TESTDATA")


def stage_corpus():
    """Copies the read-only corpus into the work tree once per checkout."""
    dst = os.path.join(WORK, "corpus")
    for sf in SCALES:
        src = corpus_dir(sf)
        out = os.path.join(dst, sf)
        if not os.path.isdir(src):
            fail(f"corpus {src} not found: set PERFBENCH_TESTDATA")
        os.makedirs(out, exist_ok=True)
        for name in sorted(os.listdir(src)):
            if name.endswith(".parquet") and not os.path.exists(os.path.join(out, name)):
                shutil.copyfile(os.path.join(src, name), os.path.join(out, name + ".tmp"))
                os.replace(os.path.join(out, name + ".tmp"), os.path.join(out, name))
    return dst


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write result digests to this file and exit")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source not found: {need} (run from a full checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    corpus = stage_corpus()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # shared by the runs of a checkout: the program stages its media
    # fixtures there once and reuses them, as its own bench does
    tmp = os.path.join(WORK, "tmp")
    traces = os.path.join(WORK, "traces")
    for d in (tmp, traces):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={run_dir}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--corpus", corpus, "--work", run_dir,
        "--expected", os.path.join(HERE, "expected_results.txt"),
        "--trace-dir", traces,
    ] + (["--record", os.path.abspath(a.record)] if a.record else [])
    try:
        code, out, err = run_bounded(cmd, RUN_LIMIT_S, cwd=run_dir, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stderr.write("\n".join(l for l in err.splitlines() if "[perfbench]" in l or "Exception" in l))
    if code != 0:
        sys.stderr.write(out[-3000:] + err[-3000:])
        if not a.record:
            sys.stdout.write(out)
        sys.exit(code or 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
