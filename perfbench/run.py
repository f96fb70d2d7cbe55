"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Run from the repository root. Builds first when the sources changed
(see build.py), then runs the workload in one JVM on Spark local[nproc].
Diagnostics go to stdout first; the last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). Everything the run
writes stays under .bench_build/perfbench; spans of a traced run are kept
in .bench_build/perfbench/traces. Exits non-zero, printing no result,
when the build or the run fails or the run takes longer than 170 s.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("dash_read", "scan_agg", "ingest_mutate", "stream_tail")
# Spark 4 on JDK 17 outside spark-submit needs these opened (Spark's
# JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args()

    classes = build.ensure()
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--size", args.size, "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out if proc.returncode == 0 else "")
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("perfbench: malformed result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
