#!/usr/bin/env python3
"""Run one benchmark invocation from the root of a source checkout:

    python3 perfbench/run.py --workload chess_batch --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark driver from source with sbt when the
sources changed since the last build (the first run in a checkout), then
runs the driver in its own JVM. The driver's report goes to stdout; its
last line is the JSON result. Spark's own log goes to stderr.

Workloads: chess_batch, chess_live, corpus_dedup (see perfbench/README.md).
`--scale tiny` shrinks every input, for the self-test.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
WORKLOADS = ("chess_batch", "chess_live", "corpus_dedup")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the root build and main sources, the
    driver's build and sources, and this script (it drives the build)."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(top):
            files += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The driver's runtime classpath, building first if sources changed."""
    want = digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == want:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        timeout=840)
    out = proc.stdout.decode(errors="replace").splitlines()
    cp = out[-1].strip() if out else ""
    if proc.returncode != 0 or "perfbench" not in cp or ".jar" not in cp:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    with open(STAMP, "w") as fh:
        json.dump({"digest": want, "classpath": cp}, fh)
    return cp


def driver(cp, args):
    """Start the driver JVM; its stdout is a pipe, its stderr ours."""
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", *args, "--out", OUT])
    return subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, start_new_session=True)


def finish(proc):
    """Wait for the driver and return its stdout; kill it on timeout."""
    try:
        return proc.communicate(timeout=RUN_TIMEOUT_S)[0]
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="default", choices=("default", "tiny"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program sources here: run from the root of a source checkout")

    cp = classpath()
    proc = driver(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace, "--scale", a.scale])
    out = finish(proc)
    lines = out.decode(errors="replace").rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"driver exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("driver printed no result line", 5)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
