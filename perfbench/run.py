"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload curate|frames --seed N \
        --seconds S --trace 0|1 [--inject-fault]

Run from the root of a graft checkout. Builds the program from source
(perfbench/build.py), then runs perfbench.Main in one JVM. With --trace 0
the result holds every end-to-end metric, with --trace 1 every per-layer
metric (see perfbench/README.md). Exits non-zero, printing no result, when
the build, the run or the result line fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(cmd: list, deadline: float) -> tuple:
    """Run one JVM in its own process group; kill the group on a signal or
    when `deadline` passes. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        stop()
    return proc.returncode, out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curate", "frames"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fault", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    # generated inputs are cached per seed, under a key of the generator's
    # sources, so a changed generator never reads stale inputs
    inputs = build.WORK / ("inputs-" + build.stamp(
        sorted(str(p) for p in Path("perfbench/src").rglob("*.scala")))[:12])
    tmp = build.WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    base = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp.resolve()}",
             f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ADD_OPENS
            + ["-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--inputs", str(inputs.resolve())])
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if not (inputs / f"{a.workload}-{a.seed}" / "manifest.properties").is_file():
        code, _ = java(base + ["--generate"], deadline)
        if code != 0:
            print(f"perfbench: input generation exited {code}", file=sys.stderr)
            return 1
    code, out = java(base + (["--inject-fault"] if a.inject_fault else []), deadline)
    lines = out.splitlines()
    if code != 0 or not lines:
        print(out, file=sys.stderr)
        print(f"perfbench: run exited {code}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
