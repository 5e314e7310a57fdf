#!/usr/bin/env python3
"""Build and run the clinical lake benchmark.

    python3 lakebench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
        [--size full|smoke]

Run it from the root of a checkout. The first run compiles the engine and
the benchmark with sbt (lakebench/build.sbt), packs the class directories
into jars and records a class-data archive of the classes a smoke run
loads; later runs reuse all three until a source file changes. Each run starts one JVM with Spark local[N]
(N = the machine's cores), prints the workload's JSON result as the last
line of standard output, and exits 0 only when every output check passed.
Scratch data lives under lakebench/.work and is removed after the run;
traced runs leave their span file and per-layer table in lakebench/out.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
JARS = os.path.join(BUILD, "jars")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 200
# the workloads whose classes the class-data archive holds
ARCHIVE_WORKLOADS = "rwe_dashboard,note_search"

# The --add-opens set Spark needs on JDK 17 outside spark-submit (the same
# list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return 124, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out



def heap():
    """Half the memory, 2g to 4g: the inputs are sized well below it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (2 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(cp, work, jvm_extra, args):
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + jvm_extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.bench.Main", "--work", work] + args


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar: the
    class-data archive takes classes from jars only."""
    shutil.rmtree(JARS, ignore_errors=True)
    os.makedirs(JARS)
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(JARS, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, files in os.walk(p):
                    dirs.sort()
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def dump_archive(cp):
    """Records the classes a smoke run of the workloads loads, so that each
    run's JVM maps them instead of loading and verifying them one by one
    (Spark's start-up drops from about 7 s to 3 s here). Without the archive
    a run starts slower and is otherwise the same."""
    log("recording the class-data archive with a smoke run ...")
    work = os.path.join(HERE, ".work", f"archive-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, _ = run_bounded(
            java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                     ["--workload", ARCHIVE_WORKLOADS, "--seed", "0", "--seconds", "1",
                      "--trace", "0", "--size", "smoke", "--out", work]),
            ARCHIVE_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        log(f"no class-data archive (exit {code}); runs load their classes from the jars")


def ensure_built():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    log("building the engine and the benchmark with sbt ...")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export lakebench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL)
    lines = (out or b"").decode(errors="replace").strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if code != 0 or not cp or cp.startswith("[") or "lakebench" not in cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (sbt exit {code})")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    for p in (STAMP, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    cp = jar_dirs(cp)
    dump_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    a = ap.parse_args()

    cp = ensure_built()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(work, exist_ok=True)
    jvm_extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(cp, work, jvm_extra,
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", a.trace, "--size", a.size, "--out", out])
    try:
        code, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
