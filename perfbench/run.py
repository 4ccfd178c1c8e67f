#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <pipeline|sql-dml> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
caching the classpath under the build directory ($CARGO_TARGET_DIR, default
`.bench_build`) keyed by a hash of the sources and of the compiled classes,
so classes that another build changed or removed are rebuilt; then runs one
measurement in a fresh JVM: `local[<cores>]`, shuffle partitions = cores,
JVM heap by the tier-1 formula (half of RAM in GiB, clamped to 2..8). The
JVM's last stdout line is the result object; it is checked and printed as
this program's last line. The exit code is non-zero on any failure or
output mismatch, and no result is printed when the run could not be made.

    python3 perfbench/run.py --record <graft.Verify output dir>

re-records perfbench/expected.json from the outputs of a `graft.Verify` run
over perfbench/data/sf0.1 that scripts/check_oracle.py found correct.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECTED = os.path.join(BENCH, "expected.json")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the engine and the harness."""
    tops = [os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties")]
    out = [p for p in tops if os.path.isfile(p)]
    for src in (os.path.join(root, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in os.walk(src):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def classes_stamp(cp):
    """Hash of the classpath's class directories (file contents) and jars
    (size and mtime); a missing entry hashes as missing."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        h.update(entry.encode() + b"\0")
        if os.path.isdir(entry):
            for d, dirs, files in os.walk(entry):
                dirs.sort()
                for f in sorted(files):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, entry).encode() + b"\0")
                    with open(p, "rb") as fh:
                        h.update(fh.read())
        elif os.path.isfile(entry):
            st = os.stat(entry)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
        else:
            h.update(b"missing")
    return h.hexdigest()


def classpath(root, build):
    """Build unless the sources and the classes they were compiled to are
    unchanged since the last build; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail(f"no engine sources under {root} (run from the root of a checkout)")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n")
        if len(saved) >= 3 and saved[0] == stamp and saved[1] == classes_stamp(saved[2]):
            return saved[2]
    os.makedirs(build, exist_ok=True)
    # sbt's own state (global base, ivy home, temp files, boot lock) stays in
    # the build directory; dependencies resolve offline from existing caches
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(build, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(build, 'ivy2')}",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "-Dsbt.boot.lock=false",
           "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"]
    print(f"perfbench: building ({' '.join(cmd)})", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HARNESS, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln.strip() for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode})")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + classes_stamp(cp) + "\n" + cp + "\n")
    return cp


def heap_size():
    """The tier-1 formula: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="graft.Verify output dir to record from")
    a = ap.parse_args()
    if not a.record and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = classpath(root, build)
    if not os.path.isdir(DATA) or not (a.record or os.path.isfile(EXPECTED)):
        fail("benchmark data or expected values missing")

    work = os.path.join(build, "work")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_size()}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--data", DATA, "--work", work, "--expected", EXPECTED,
              "--cores", str(cores)])
    if a.record:
        sys.exit(subprocess.run(cmd + ["--record", os.path.abspath(a.record)],
                                cwd=root, stdin=subprocess.DEVNULL).returncode)
    cmd += ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0-ms", str(int(time.time() * 1000))]
    try:
        r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = r.stdout.strip().splitlines()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (exit {r.returncode})")
    print(json.dumps(result))
    sys.exit(0 if r.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
