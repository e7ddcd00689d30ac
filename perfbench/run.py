#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload replicate_daily --seed 1 --seconds 20 --trace 0

Builds the harness together with the engine's sources (sbt, offline)
when either changed since the last build, then runs the workload in one
JVM. Everything it writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout. The last line
of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("replicate_daily", "operator_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build.sbt).
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


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties", ROOT / "build.sbt"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(bdir):
    """Compile harness + engine once per source state; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT} (build.sbt, src/main/scala)")
    stamp = bdir / "classpath.json"
    digest = source_digest()
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.global.base={bdir / 'sbt-global'}", "-Dsbt.server.autostart=false"]))
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-8000:])
        fail(f"build failed (sbt exit {p.returncode})")
    classpath = cp[-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath,
                                 "build_s": time.time() - t0}))
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def fixtures_default():
    """The sf0.01 fixture directory: $PERFBENCH_FIXTURES, else the one
    TESTDATA.md documents, else ~/testdata/sf0.01."""
    if "PERFBENCH_FIXTURES" in os.environ:
        return os.environ["PERFBENCH_FIXTURES"]
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", doc.read_text()) if doc.is_file() else None
    return m.group(1).rstrip("/") if m else os.path.expanduser("~/testdata/sf0.01")


def fresh_dirs(bdir):
    """Empty the run's lake and temp directories; return the work directory."""
    work = bdir / "work"
    for d in (work / "lake", bdir / "tmp"):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    return work


def java_cmd(bdir, classpath):
    tmp = bdir / "tmp"
    # C1 only: in runs this short on four cores, C2's compiler threads
    # compete with the four task threads and the code keeps speeding up
    # through the run; C1 warms up in seconds and then holds still. C1
    # alone gets a 48 MB code cache, which Spark's generated code fills,
    # and a full cache switches the JIT off for the rest of the run. The
    # heap has a fixed size, so no run resizes it differently from another.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + [
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        f"-Dderby.system.home={tmp / 'derby'}",
        f"-Dderby.stream.error.file={tmp / 'derby.log'}",
        "-cp", classpath, "perfbench.Main",
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--fixtures", default=fixtures_default(),
        help="read-only fixture directory for operator_mix (see TESTDATA.md)")
    ap.add_argument("--record", help="operator_mix: write entry hashes here instead of checking")
    a = ap.parse_args()

    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    classpath = build(bdir)

    work = fresh_dirs(bdir)
    cmd = java_cmd(bdir, classpath) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work), "--fixtures", a.fixtures,
    ]
    if a.record:
        cmd += ["--record", a.record]
    try:
        p = subprocess.run(cmd, cwd=bdir, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s", 3)
    out = p.stdout.rstrip("\n").splitlines()
    if p.returncode != 0 or not out or not out[-1].startswith("{"):
        sys.stderr.write("\n".join(out[-20:]) + "\n")
        fail(f"workload failed (exit {p.returncode})", 4)
    sys.stdout.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
