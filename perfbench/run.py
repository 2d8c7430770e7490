#!/usr/bin/env python3
"""Build the engine and the benchmark from the sources of this checkout,
then run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first call builds with sbt (the
benchmark's own build in perfbench/, which compiles the engine's sources
from the checkout), writes a class-data sharing archive that every run maps,
and caches both under .bench_build/; later calls rebuild only when a source
or build file changed. The last line printed on
standard output is the result JSON. Everything the run writes stays under
.bench_build/ and its scratch directory is removed at the end.

`--record <from>-<to>` (with --workload) prints the result digests of a
range of seeds instead, in the format of
perfbench/src/main/resources/perfbench/digests.tsv; keep each call under the
run timeout by recording a few seeds at a time.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s; leave room to clean up
RUN_TIMEOUT_S = 170
# the first run of a checkout builds, writes the class archive and runs,
# all within 900 s
BUILD_TIMEOUT_S = 540
ARCHIVE_TIMEOUT_S = 150

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


def sources_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


# class-data sharing archive, written once per build by make_archive
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def classpath():
    """Compile with sbt and write the class archive when the sources
    changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            old, cp = fh.read().split("\n", 1)
        if old == stamp and os.path.exists(CDS_ARCHIVE):
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    sys.stderr.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    make_archive(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def run_jvm(cp, jvm_args, argv, timeout, stderr):
    """Run perfbench.Main in a fresh scratch directory under .bench_build/.

    Returns (exit code, standard output); the exit code is None when the JVM
    exceeded `timeout` and was killed. The scratch directory is removed.
    """
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Xmn256m", "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_args
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dperfbench.work={work}",
        f"-Dperfbench.data={os.path.join(BENCH, 'data', 'sf0.01')}",
        "-cp", cp, "perfbench.Main",
    ] + argv
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out.decode()
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def make_archive(cp):
    """Write the class-data sharing archive of this build.

    One board recording run (it loads the classes of the Spark session, SQL
    planning, code generation, shuffle and parquet reads and writes) dumps
    the classes it loaded when it exits; every timed run then maps the same
    archive, which takes seconds of class loading off each JVM start.
    """
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    log_path = os.path.join(BUILD, "archive.log")
    with open(log_path, "w") as log:
        code, _ = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                          ["--workload", "query_board", "--record", "0-0"], ARCHIVE_TIMEOUT_S, log)
    if code != 0 or not os.path.exists(CDS_ARCHIVE):
        die(f"class archive run failed (exit {code}, log in {log_path})")


def main(argv):
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT} (run from the root of a full checkout)")
    # a terminated launcher still stops its child processes and removes
    # their scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(BUILD, exist_ok=True)
    cp = classpath()

    args = dict(zip(argv[::2], argv[1::2]))
    tag = f"{args.get('--workload', 'x')}-{args.get('--seed', '0')}"
    code, out = run_jvm(cp, [f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
                             f"-Dperfbench.trace={os.path.join(BUILD, 'trace-' + tag + '.json')}"],
                        argv, RUN_TIMEOUT_S, sys.stderr)
    if code is None:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    # the result line goes last; anything else the JVM printed goes to stderr
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if result:
        sys.stderr.write("".join(l + "\n" for l in lines if l not in result))
        lines = result[-1:]
    sys.stdout.write("".join(l + "\n" for l in lines))
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
