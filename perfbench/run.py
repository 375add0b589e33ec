#!/usr/bin/env python3
"""Run one benchmark workload of the graft library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library from the checkout's sources together with the harness in
perfbench/ (once; the build is reused until a source file changes), runs one
JVM with Spark in local mode, and relays its output. The last stdout line is
the JSON result. Everything the run writes stays under perfbench/: the build
under target/ and .build/, Spark's scratch data under a per-run temp dir that
is removed at exit, and traces under out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; (returncode, stdout), or None on
    timeout. The whole group is killed and reaped before this returns."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            paths = [root]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building the library and the harness", file=sys.stderr)
    res = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    if res is None:
        fail("build timed out")
    rc, out = res
    lines = out.splitlines()
    cps = [ln for ln in lines if "scala-2.13" + os.sep + "classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIBRARY, "scala", "graft")):
        fail(f"library sources not found under {LIBRARY}")
    classpath = build()

    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--tmp", tmp, "--out", os.path.join(HERE, "out")]
    try:
        res = run_group(cmd, RUN_TIMEOUT_S, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if res is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    rc, out = res
    if rc != 0:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {rc}", rc)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
