"""Seeded benchmark of the graft engine: the curate and ingest workloads.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the program from source on first
use (perfbench/build.py), writes the seeded inputs (perfbench/gen.py,
untimed), then runs one workload in one JVM on local[N],
N = min(4, CPUs) - 1. A workload's first run after a build dumps the
classes its JVM loaded into a class-data-sharing archive
(.bench_build/classes-<workload>.jsa); its later runs map it, which
takes seconds off JVM and Spark start-up. The last stdout line is the
result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
is the full report (checks, host health, spans); a copy is kept under
.bench_build/reports. Everything the run writes stays in .bench_build.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(gen.SIZES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    try:
        jar = build.ensure()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = build.BUILD / "work" / f"{tag}-{os.getpid()}"
    logs = build.BUILD / "logs"
    reports = build.BUILD / "reports"
    for d in (work / "tmp", logs, reports):
        d.mkdir(parents=True, exist_ok=True)
    archive = build.archive(a.workload)
    # JVM log lines go to stderr, so stdout holds only the report lines
    cmd = ["java", "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={archive}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}{os.pathsep}{build.spark_jars() / '*'}", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)]

    log_path = logs / f"{tag}.log"
    try:
        gen.generate(a.workload, a.seed, work)
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=TIMEOUT_S, cwd=str(work))
    except subprocess.TimeoutExpired:
        print(f"timed out after {TIMEOUT_S}s; log: {log_path}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:])
        print(f"run failed (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"malformed result line; log: {log_path}", file=sys.stderr)
        return 1
    report = lines[-2] if len(lines) > 1 else "{}"
    (reports / f"{tag}.json").write_text(report + "\n")
    print(report)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
