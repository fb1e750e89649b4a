#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt (perfbench/build.sbt) and caches the
resulting classpath; later runs start the JVM directly. The last line of
standard output is the result JSON printed by graftbench.Main.
"""
import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("pit_training", "lakehouse_cdc")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit; the same list as the
# root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_fingerprint():
    """Newest mtime and file count over everything the build reads."""
    newest, count = 0.0, 0
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs.extend(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        newest = max(newest, p.stat().st_mtime)
        count += 1
    return f"{newest:.6f}:{count}"


def build():
    """Classpath of the built benchmark, building it first when stale."""
    stamp = HERE / "target" / "graftbench.classpath"
    fp = sources_fingerprint()
    if stamp.exists():
        cached_fp, _, cp = stamp.read_text().partition("\n")
        if cached_fp == fp and all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(out.stdout)
    if out.returncode != 0:
        sys.exit(f"graftbench: build failed (sbt exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(fp + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"graftbench: no graft sources next to {HERE} (run from a graft checkout)")
    cp = build()
    out = HERE / ".run"
    tmp = out / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    # a traced run also leaves its raw spans here
    spans = ["--spans", str(out / f"spans-{a.workload}-{a.seed}.jsonl")] if a.trace == "1" else []
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace] + spans)
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
