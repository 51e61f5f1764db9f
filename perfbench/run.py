#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 10 --trace 0

Run from the repository root. fixtures.py writes the seeded inputs while
the JVM starts. The first run builds the program and the
benchmark (perfbench/build.sbt) into .bench_build/ and later runs reuse
that build until a source file changes. Each run works in its own
directory under .bench_build/tmp/, removed when the run ends. Spark's
log goes to .bench_build/logs/<workload>.log.
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


WORKLOADS = ("sync", "serve", "corpus", "stream")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
JVM_HEAP = "3g"
CDS_ARCHIVE = lambda out: os.path.join(out, "classes.jsa")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest(root):
    """Digest of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt unless the classpath file is current; returns it."""
    cp_file = os.path.join(out, "target", "classpath.txt")
    stamp = os.path.join(out, "build.stamp")
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return cp_file
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    with open(os.path.join(out, "logs", "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=os.path.join(root, "perfbench"), env=env, stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed, see .bench_build/logs/build.log")
    if os.path.exists(CDS_ARCHIVE(out)):  # it names the jars it was made from
        os.remove(CDS_ARCHIVE(out))
    with open(stamp, "w") as f:
        f.write(digest)
    return cp_file


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))  # still clean up

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    out = os.path.join(root, ".bench_build")
    java = shutil.which("java")
    if not java or "SPARK_HOME" not in os.environ:
        fail("needs java on PATH and SPARK_HOME set")
    cp_file = build(root, out)

    tmp_root = os.path.join(out, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    for d in os.listdir(tmp_root):  # leftovers of runs that were killed
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and alive(int(pid))):
            shutil.rmtree(os.path.join(tmp_root, d), ignore_errors=True)
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)

    # The inputs are generated while the JVM starts; Main waits for
    # fixture.json before it reads them.
    fixture_json = os.path.join(tmp, "fixture.json")
    gen = subprocess.Popen([sys.executable, os.path.join(root, "perfbench", "fixtures.py"),
                            "--workload", a.workload, "--seed", str(a.seed), "--out", tmp,
                            "--summary", fixture_json], stdout=subprocess.DEVNULL)

    # The first run after a build dumps the classes it loaded into a
    # class-data-sharing archive; later runs map it, which roughly halves
    # JVM and session start.
    jsa = CDS_ARCHIVE(out)
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    cmd = [java, cds, "-Xlog:all=warning:stderr", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}",
           "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(cp_file).read().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tmp", tmp, "--out", out, "--fixture", fixture_json]
    env = {k: v for k, v in os.environ.items() if k != "TEST_ACCOUNTS"}
    log_path = os.path.join(out, "logs", f"{a.workload}.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            deadline = time.monotonic() + RUN_LIMIT_S
            try:
                if gen.wait(timeout=RUN_LIMIT_S) != 0:
                    fail("fixture generation failed")
                stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                fail(f"{a.workload} did not finish within {RUN_LIMIT_S:.0f} s")
        if proc.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{a.workload} exited with code {proc.returncode}")
        lines = [l for l in stdout.splitlines() if l.strip()]
        results = [l for l in lines if l.startswith('{"correct"')]
        if len(results) != 1:
            fail("no result line")
        print("\n".join([l for l in lines if l != results[0]] + results))
        sys.stdout.flush()
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
