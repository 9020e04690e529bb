"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Run from the checkout root. Builds the engine and the benchmark when a
source changed (see build.py), then starts one JVM that runs the engine
in-process as local[nproc]. Inputs, audit roots and Spark scratch space live
under .bench_work/ and are removed on exit. Exits non-zero, without a
result line, when the build, the JVM or the result fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
WORKLOADS = ("suite_full", "dedup_clusters")
# Spark on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
YOUNG = "1g"
# a run ends within this many seconds beyond --seconds, or is killed
GRACE_S = 150


def source_id(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return "git:" + r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + stamp[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    try:
        classes, jars, stamp = build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = ROOT / ".bench_work" / f"jvm-{os.getpid()}.log"
    # A fixed heap and young generation and few malloc arenas keep the peak
    # resident set from swinging with GC sizing decisions; -XX:-UsePerfData
    # writes no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size, "--work", str(work), "--bench-dir", str(HERE),
              "--source", source_id(stamp)])
    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log, "w") as err:
            env = dict(os.environ, MALLOC_ARENA_MAX="2")
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                    env=env)
            try:
                out, _ = proc.communicate(timeout=a.seconds + GRACE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print("[perfbench] run timed out", file=sys.stderr)
                return 3
        lines = out.strip().splitlines()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            print(f"[perfbench] JVM exited with {proc.returncode}; last log lines:", file=sys.stderr)
            print("\n".join(log.read_text().splitlines()[-40:]), file=sys.stderr)
            return 4
        for line in lines[:-1]:
            print(line)
        if not result["correct"]:
            print("\n".join(line for line in log.read_text().splitlines()
                            if "[perfbench]" in line), file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        log.unlink(missing_ok=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
