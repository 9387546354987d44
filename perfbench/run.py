#!/usr/bin/env python3
"""Build and run the graft end-to-end benchmark.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine's
sources together with the benchmark harness (sbt, offline) into
perfbench/target; later runs reuse that build while the sources are
unchanged. The last line of standard output is the result object.
"""
import argparse
import fcntl
import hashlib
import os
import pathlib
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
WORKLOADS = ("lifecycle", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
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


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; "
             "run from a checkout of the repository")
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
        digest = sources_digest()
        if (stamp.is_file() and cp_file.is_file()
                and stamp.read_text() == digest):
            return cp_file.read_text().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        try:
            res = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
        lines = [l for l in res.stdout.splitlines() if l.strip()]
        if res.returncode != 0 or not lines or "classes" not in lines[-1]:
            sys.stderr.write(res.stdout[-4000:])
            fail(f"build failed (sbt exit {res.returncode})", 3)
        cp_file.write_text(lines[-1].strip())
        stamp.write_text(digest)
        return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed-size heap and the parallel collector: heap resizing and
    # concurrent-collector threads made run-to-run times noticeably noisier
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
