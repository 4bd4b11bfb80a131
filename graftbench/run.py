"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload cdc_serve|llm_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (graftbench/build.py), then runs the workload in one
JVM with Spark in local mode. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Exits non-zero,
without a result line, when the build or the run fails.
"""
import argparse
import os
import pathlib
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_serve", "llm_ingest")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--tiny", action="store_true",
                   help="smoke scale, for the self-test")
    p.add_argument("--inject-failure", action="store_true",
                   help="make one measured op fail, for the self-test")
    a = p.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.OUT
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = max(1, min(4, os.cpu_count() or 1))
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", str(out), "--cpus", str(cpus)]
    if a.tiny:
        cmd.append("--tiny")
    if a.inject_failure:
        cmd.append("--inject-failure")

    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if lines:
                print(lines[-1], flush=True)
            lines.append(line)
        rc = proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    # the result line is printed only after the JVM exited cleanly
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        print(f"[graftbench] run failed (exit code {rc})", file=sys.stderr)
        return rc or 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
