#!/usr/bin/env python3
"""Runs one benchmark workload of graft and prints its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload vcf_load --seed 1 --seconds 10 --trace 0

Steps: build the library and the benchmark with perfbench/build.sh (only
when a source changed), generate the workload's inputs from the seed
(graftbench.Gen, one JVM), then run them (graftbench.Main, a second JVM,
whose start is the start of the measured set-up). Everything is written
under .bench_build/ in the current directory. The last line of standard
output is the result JSON; the full record, with the run stamp, is in
.bench_build/results/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("vcf_load", "variant_annotate")
BUILD = Path(".bench_build")
HEAP = "2g"
# Spark on JDK 17 needs these when a session is built outside
# spark-submit; the same set as the repository's build.sbt.
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
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = sorted(list(Path("src/main/scala").rglob("*.scala")) +
                   list(Path("perfbench/src").rglob("*.scala")) +
                   [Path("perfbench/build.sh")])
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first Spark install on PATH whose jars include
    the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(os.path.realpath(Path(d, "spark-submit"))).parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in homes:
        if home and list(Path(home, "jars").glob("scala-compiler-*.jar")):
            return home
    fail("no Spark with a Scala compiler found: set SPARK_HOME or put its spark-submit on PATH")


def build(digest):
    stamp = BUILD / "classes" / ".source_sha256"
    if stamp.exists() and stamp.read_text() == digest:
        return
    log = BUILD / "build.log"
    BUILD.mkdir(exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["bash", "perfbench/build.sh"], stdout=out,
                            stderr=subprocess.STDOUT, timeout=840,
                            env=dict(os.environ, SPARK_HOME=spark_home())).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed ({rc})")
    stamp.write_text(digest)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(main, args, log, timeout, props=()):
    jars = os.path.join(spark_home(), "jars", "*")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # -XX:+AlwaysPreTouch: the whole heap is resident from the start, so
    # peak RSS does not hang on how far the collector happened to reach
    cmd = (["java", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           list(props) +
           ["-cp", f"{BUILD / 'classes'}{os.pathsep}{jars}", main] + list(args))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} timed out after {timeout:.0f} s; see {log}", 1)
    if p.returncode != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"{main} exited {p.returncode}", 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not Path("src/main/scala/graft").is_dir():
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("java") is None:
        fail("no java on PATH")

    digest = source_hash()
    build(digest)
    started = time.monotonic()

    # keyed by the sources too: another generator writes other inputs
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{digest[:12]}"
    # keep only this run's inputs on disk
    for old in (BUILD / "work").glob("*") if (BUILD / "work").exists() else []:
        if old != work:
            shutil.rmtree(old, ignore_errors=True)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if not (work / "manifest.tsv").exists():
        shutil.rmtree(work, ignore_errors=True)
        java("graftbench.Gen", [a.workload, str(a.seed), str(work)],
             results / f"{tag}-gen.log", timeout=90)
    # the whole run ends within 172 s at the benchmark's own run length;
    # a longer --seconds gets the same margin for set-up and settling
    left = max(172, a.seconds + 150) - (time.monotonic() - started)
    out = java("graftbench.Main",
               [a.workload, str(a.seed), repr(a.seconds), str(a.trace), str(work),
                str(results / f"{tag}.json")],
               results / f"{tag}.log", timeout=left,
               props=[f"-Dgraftbench.git={git_sha()}", f"-Dgraftbench.sources={digest}"])
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail("no result line", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
