#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload load_narrow|curate_load \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into the checkout; later runs reuse that build
until a source file changes. The measured run is one JVM started straight
from the recorded classpath, so no build tool runs while it measures.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("load_narrow", "curate_load")
RUN_TIMEOUT_S = 170


def sources():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(top):
            files += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    want = stamp()
    stamp_file = os.path.join(OUT, "stamp")
    launch = os.path.join(OUT, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return launch
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    # the build log goes to stderr: stdout carries only the result
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/benchLaunch"],
                   cwd=BENCH, env=env, stdout=sys.stderr, check=True, timeout=700)
    shutil.copyfile(os.path.join(BENCH, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources beside the benchmark; nothing to measure")
    try:
        launch = build()
    except (subprocess.SubprocessError, OSError) as e:
        sys.exit(f"perfbench: build failed: {e}")
    with open(launch) as fh:
        jvm = [line.rstrip("\n") for line in fh if line.strip()]
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp] + jvm +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [line for line in out.splitlines() if line.strip()]
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
        sys.exit(proc.returncode)
    if lines:
        print(lines[-1], file=sys.stderr)
    sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
