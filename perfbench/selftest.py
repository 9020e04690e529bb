"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs run.py untraced and traced and
asserts that the run is correct, that exactly the metrics BENCHMARK.json
names are emitted with their units, and that every output check rejected
its deliberately corrupted result. Last, it copies BENCHMARK.json and the
benchmark's own directory, without the engine sources, and asserts that
run.py fails there without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def run(cwd, workload, trace, timeout=400):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", trace, "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            r = run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {r.returncode}\n{r.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                                f"failed={res['failed']}")
            checks = [x for x in lines if x.startswith("perfbench-check-selftest")]
            if not checks or any("rejected=true" not in x for x in checks):
                failures.append(f"{tag}: corrupted outputs not all rejected: {checks}")
            print(f"{tag}: ok, {len(got)} metrics, {len(checks)} corruptions rejected", flush=True)

    bare = ROOT / ".bench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        r = run(bare, spec["workloads"][0]["name"], "0", timeout=180)
        if r.returncode == 0 or r.stdout.strip():
            failures.append(f"bare directory: exit {r.returncode}, stdout {r.stdout[-500:]!r}")
        else:
            print(f"bare directory: fails with exit {r.returncode} and no result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
