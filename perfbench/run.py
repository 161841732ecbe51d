#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload corpus|gps_ingest \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles the engine's sources together with
the benchmark's (sbt, offline) and records the classpath; later runs
reuse it while the sources are unchanged. Each run starts a fresh JVM.
Every file a run writes stays under perfbench/target. The result is the
last line of stdout, one JSON object.

    python3 perfbench/run.py --make-reference [--oracle-log FILE --verify-dir DIR]

regenerates reference/outputs.json (row count and digest of every
declared id on the bundled tables). DIR is a graft.Verify dump on the
same tables and FILE the output of tools/check.py on it; an id the
oracle passed is recorded as passing if its dump has the same digest.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORK = TARGET / "work"
DATA = HERE / "data" / "sf0.01"
REFERENCE = HERE / "reference" / "outputs.json"
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


def sources_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    sys.stderr.write(out.stdout)
    if out.returncode != 0:
        sys.exit(f"build failed (sbt exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines() if l and not l.startswith("[")][-1]
    (TARGET / "classpath.txt").write_text(cp)
    (TARGET / "stamp.txt").write_text(stamp)
    return cp


def classpath():
    stamp = sources_stamp()
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    return build(stamp)


def java(main, args, timeout):
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={WORK}",
        "-Dspark.ui.enabled=false", "-cp", classpath(), main] + args
    # own process group, so a timeout also stops the load generator
    proc = subprocess.Popen(cmd, cwd=WORK, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run exceeded {timeout} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["corpus", "gps_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-reference", action="store_true")
    ap.add_argument("--oracle-log")
    ap.add_argument("--verify-dir")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not DATA.is_dir():
        sys.exit("no engine sources or bundled tables next to perfbench/: "
                 "run from the root of a checkout of the repository")
    if a.make_reference:
        extra = [str(Path(p).resolve()) for p in (a.oracle_log, a.verify_dir) if p]
        sys.exit(java("perfbench.Reference", [str(DATA), str(WORK), str(REFERENCE)] + extra, 1800))
    if a.workload is None:
        ap.error("--workload is required")
    sys.exit(java("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(DATA), "--work", str(WORK),
        "--reference", str(REFERENCE)], RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()
