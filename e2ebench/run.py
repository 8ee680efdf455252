#!/usr/bin/env python3
"""Run one end-to-end benchmark workload of the graft engine.

    python3 e2ebench/run.py --workload build|search|upload --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. The build and the run
have time limits of their own. The run itself is one
JVM (graft.e2ebench.Main); its report and its final JSON line are passed
through on stdout, Spark's log goes to `.bench_build/logs/`.
"""

import argparse
import fcntl
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("build", "search", "upload")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def ensure_build(log):
    """Build once per source state; return (runtime classpath, stamp)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); "
             "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
                and open(stamp_file).read() == want):
            return open(cp_file).read().strip(), want
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false",
               "compile", "export Runtime/fullClasspath"]
        rc, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
        with open(log, "w") as fh:
            fh.write(out or "")
        if rc != 0:
            fail(f"build failed (rc={rc}); see {log}")
        cps = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
        if not cps:
            fail(f"build printed no classpath; see {log}")
        with open(cp_file, "w") as fh:
            fh.write(cps[-1])
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return cps[-1], want


def heap():
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        return f"{max(2, min(4, kb // (3 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=5).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cp, source_stamp = ensure_build(os.path.join(BUILD, "logs", "build.log"))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
              "-cp", cp, "graft.e2ebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", os.path.join(BUILD, f"run-{tag}-{os.getpid()}"),
              "--out", os.path.join(BUILD, "results")])
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, E2EBENCH_COMMIT=commit(), E2EBENCH_STAMP=source_stamp[:16])
    with open(log, "w") as err:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, stderr=err, text=True)
    if rc is None:
        fail(f"run timed out; see {log}")
    lines = out.splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"run failed (rc={rc}); see {log}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
