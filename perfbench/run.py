"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the engine and the benchmark driver from
source (perfbench/build.py), runs one workload in one JVM on
`local[4]`, and passes the driver's result through: the last stdout line
is one JSON object with `correct`, `attempted`, `failed` and `metrics`.
Exits non-zero, without a result line, when the sources are missing, the
build fails or the run times out; exits non-zero after the result line
when an output check failed.

Extra flags used by the smoke test: `--size tiny` shrinks every input,
`--corrupt sink|snapshot|labels` damages one output before it is checked
(the steady sink, a merged snapshot, or the traced merge run's
clustering labels).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["cdc_ingest_steady", "merge_restore"]
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--corrupt", choices=["sink", "snapshot", "labels"], default="")
    a = p.parse_args()

    cp = build.build()
    work = os.path.abspath(os.path.join(build.BUILD_ROOT, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Parallel GC with a fixed heap and young generation and no adaptive
    # sizing. The heap is not pre-touched, so peak RSS is the young
    # generation plus what the old generation and native memory reach.
    # Under G1, spreads across seeds on a 4-vCPU VM were 11% for merge
    # throughput (ten seeds) and 15-43% for RSS without pre-touch (five).
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--corrupt", a.corrupt, "--work-dir", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    for l in lines[:-1]:
        print(l)
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    if proc.returncode not in (0, 3) or not isinstance(result, dict):
        sys.exit(f"perfbench: driver failed ({proc.returncode})")
    print(json.dumps(result))
    # 3: the driver ran but an output check failed.
    sys.exit(0 if proc.returncode == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
