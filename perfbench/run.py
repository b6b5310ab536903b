#!/usr/bin/env python3
"""graft benchmark driver.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload <code|corpus> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the benchmark (sbt, offline; classes in
`perfbench/target/`, build stamp and log in `.bench_build/`) when the
sources changed since the last build, then runs one benchmark process,
whose scratch files stay under `.bench_build/`. The last line of standard output is the result
JSON; the line before it holds the workload's named figures with their
sample counts. The benchmark's own tests: `cd perfbench && sbt test`.
"""
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
WORKLOADS = ("code", "corpus")

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


CHILDREN = []


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout=None, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or when
    this script is terminated, and wait for it either way."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_children()
        fail(f"{cmd[0]} exceeded {timeout}s")
    CHILDREN.remove(proc)
    return proc.returncode, out


def stop_children(*_):
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    CHILDREN.clear()


def source_files():
    """What the build reads: the engine's and the harness's main sources and
    the build definition (not sbt's own output under perfbench/project)."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def tmp_dir():
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def build():
    """Compile into perfbench/target unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    want = stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return cp_file
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc, _ = run_child(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                           f"-Djava.io.tmpdir={tmp_dir()}", "writeClasspath"],
                          cwd=HERE, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp_file


def java_cmd(cp_file, args):
    with open(cp_file) as fh:
        cp = fh.read().strip()
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp_dir()}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args)


def parse_args(argv):
    keys = {"--workload": None, "--seed": "1", "--seconds": "10", "--trace": "0"}
    it = iter(argv)
    for k in it:
        if k not in keys:
            fail(f"unknown argument {k}")
        keys[k] = next(it, None)
        if keys[k] is None:
            fail(f"{k} needs a value")
    if keys["--workload"] not in WORKLOADS:
        fail("--workload must be one of " + ", ".join(WORKLOADS))
    for k in ("--seed", "--seconds"):
        if not keys[k].lstrip("-").isdigit():
            fail(f"{k} must be an integer")
    if keys["--trace"] not in ("0", "1"):
        fail("--trace must be 0 or 1")
    return keys


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda *_: (stop_children(), sys.exit(2)))
    keys = parse_args(sys.argv[1:])
    cp_file = build()
    out = os.path.join(BUILD, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    args = [x for k, v in keys.items() for x in (k, v)] + ["--out", out]
    rc, stdout = run_child(java_cmd(cp_file, args), timeout=RUN_TIMEOUT_S, cwd=ROOT,
                           stdout=subprocess.PIPE, text=True)
    lines = stdout.splitlines()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        fail(f"benchmark process failed (exit {rc})")
    with open(out) as fh:
        result = json.loads(fh.read())
    os.remove(out)
    for line in lines:
        if line.startswith('{"workload"'):
            print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
