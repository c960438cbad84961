#!/usr/bin/env python3
"""Serving benchmark: one run of one workload.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run starts one JVM that builds
the store under a fresh temporary root, serves it over HTTP and drives the
workload; the temporary root is deleted afterwards. The last line of
standard output is the JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("dashboard_read", "push_ingest", "mixed_rw")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness unless the last build matches the sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources (src/main/scala) not found: run from a full checkout")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed (sbt exit {r.returncode})")
    # the class-data archive belongs to the previous build's classes
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file) as c:
        cp = c.read().strip()
    # Class-data sharing: one training run records the classes a run loads
    # into an archive; every measured run maps it instead of loading and
    # verifying ~15k classes (about 5 s of JVM + Spark start on 4 cores).
    # Recording it here, not in the first measured run, keeps that run
    # like the others. Without an archive, runs load classes from the jars.
    code, _ = harness(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                      ["--workload", "dashboard_read", "--seed", "0", "--seconds", "1",
                       "--trace", "0", "--goldens", os.path.join(BUILD, "training.tsv")],
                      out=sys.stderr)
    if code != 0:
        print(f"perfbench: class-data training run exited {code}", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def harness(cp, cds, args, out=subprocess.PIPE):
    """Runs the harness JVM on a fresh work directory (deleted afterwards);
    returns (exit code, standard output)."""
    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=os.path.join(work, "store"))
    # C1 only: at the default tiering, C2 compilation takes about 2/3 of
    # the JVM's CPU during a window of a few seconds after start on 4
    # cores, and how far it has got varies from run to run. C1 compiles
    # the hot code within the set-up, so the window measures the program
    # at one steady level of compiled code.
    cmd = (["java", "-XX:TieredStopAtLevel=1",
            "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            cds, "-Xlog:cds=off",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", work] + args)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                            stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, stdout or ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true",
                    help="record response digests into perfbench/goldens (default seed)")
    a = ap.parse_args()

    cp = build()
    cds = f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else "-Xshare:auto"
    code, out = harness(cp, cds, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--goldens", os.path.join(HERE, "goldens", f"{a.workload}.tsv"),
        "--write-goldens", "1" if a.write_goldens else "0",
        "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")])
    sys.stdout.write(out)
    sys.stdout.flush()
    last = out.strip().splitlines()[-1:] if out.strip() else []
    if code == 0 and (not last or not last[0].startswith("{")):
        die("run printed no result")
    sys.exit(code)


if __name__ == "__main__":
    main()
