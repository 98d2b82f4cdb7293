#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload stock_etl --seed 1 --seconds 10 --trace 0

Builds the benchmark (and the program, from the checkout's sources) with
sbt the first time, then launches the benchmark JVM directly. The last line
of standard output is the run's JSON result. Everything the run writes stays
under perfbench/ in the checkout.

The build also writes a class-data archive (JDK dynamic CDS) of the classes
one JVM loads while it sets up every workload once; each run maps it, which
takes several seconds of class loading off every run's set-up. Only classes
from jars are archived, so the build packs the class directories into jars.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench-build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("stock_etl", "llm_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseG1GC",
    "-Duser.language=en", "-Duser.country=US", "-Dfile.encoding=UTF-8",
    "-Dspark.ui.enabled=false",
    # JVM warnings (the class-data archive's among them) go to stderr, so
    # the last line of stdout stays the result
    "-Xlog:disable", "-Xlog:all=warning:stderr",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def pack_class_dirs(cp):
    """The classpath with each class directory replaced by a jar of it."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}-{os.path.basename(entry)}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, names in os.walk(entry):
                    dirs.sort()
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def java_cmd(cp, work, extra, args):
    return (["java"] + JAVA_OPTS + extra +
            [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main"] + args +
            ["--workdir", work, "--outdir", os.path.join(HERE, "out")])


def archive_classes(cp):
    """Writes ARCHIVE from one JVM that sets up every workload; without it
    the runs load every class from the jars, which is slower but correct."""
    work = os.path.join(HERE, "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp"],
                   ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0"])
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL,
                              stderr=subprocess.PIPE, text=True, timeout=BUILD_TIMEOUT_S)
        ok = proc.returncode == 0 and os.path.exists(ARCHIVE + ".tmp")
        if not ok:
            sys.stderr.write("\n".join(proc.stderr.splitlines()[-20:]) + "\n")
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if ok:
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
        log(f"class-data archive written in {time.time() - t0:.0f} s")
    else:
        log("no class-data archive: the runs load classes from the jars")


def build():
    """Compiles with sbt unless the recorded build matches the sources."""
    digest = sources_digest()
    stamp, cp_file = os.path.join(BUILD, "digest"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"[perfbench] build failed ({proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout)
        raise SystemExit("[perfbench] could not read the classpath from sbt")
    os.makedirs(BUILD, exist_ok=True)
    for f in (ARCHIVE, stamp):
        if os.path.exists(f):
            os.remove(f)
    cp = pack_class_dirs(cp)
    archive_classes(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program to measure: {need} is missing")

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(cp, work, cds, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--launch-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"[perfbench] {a.workload} printed no result (exit {proc.returncode})")
    print(lines[-1], flush=True)
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] {a.workload} failed its checks (exit {proc.returncode})")


if __name__ == "__main__":
    main()
