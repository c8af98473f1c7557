"""Build file of the benchmark: compiles the program and the benchmark.

    python3 perfbench/build.py

Compiles the program's sources (src/main/scala, with src/main/resources)
and the benchmark's own (perfbench/src) into .bench_build/classes.jar,
with the Scala compiler that ships among the Spark jars the program
builds against (build.sbt's unmanagedBase, or $SPARK_HOME/jars). A stamp
of every source's content skips the build when nothing changed. A new
build deletes the runs' class archives (see archive() and run.py).
Exits non-zero when the program's sources are missing or do not compile.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory the program builds against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or build.sbt's unmanagedBase")
    return Path(m.group(1))


def archive(workload):
    """The class-data-sharing archive of one workload's runs."""
    return BUILD / f"classes-{workload}.jsa"


def _sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found: {program}")
    bench = ROOT / "perfbench" / "src"
    return sorted(program.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def _resources():
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure():
    """Returns the program's jar, compiling first if a source changed."""
    sources, resources = _sources(), _resources()
    jar = BUILD / "classes.jar"
    stamp_file = BUILD / "classes.stamp"
    stamp = _stamp(sources + resources)
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    jars = spark_jars()
    if not (jars / "scala-library-2.13.17.jar").is_file():
        raise BuildError(f"Spark jars with Scala 2.13 not found in {jars}")
    staging = BUILD / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(staging), "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    res_root = ROOT / "src" / "main" / "resources"
    for r in resources:
        dst = staging / r.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    # a jar, not a directory, so the JVM can archive its classes
    tmp = BUILD / "classes.jar.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for f in sorted(staging.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(staging).as_posix())
    shutil.rmtree(staging)
    for old in BUILD.glob("classes-*.jsa"):
        old.unlink()
    tmp.replace(jar)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
