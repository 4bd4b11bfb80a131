"""Self-test of the graft benchmark, at smoke scale.

    python3 graftbench/selftest.py

For every workload in BENCHMARK.json it checks that:
  * an untraced run prints every end-to-end metric with its unit, is
    correct, and fails no op;
  * a traced run prints every per-layer metric with its unit and writes
    its trace file;
  * a run with one deliberately failing op reports it: `failed` > 0,
    `correct` false and `ops_ok_frac` below 1.
It also checks that the benchmark refuses to run, with a non-zero exit and
no result line, from a directory holding only the benchmark's own files.
Exits non-zero on the first failed check.
"""
import json
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args, cwd=ROOT):
    r = subprocess.run([sys.executable, str(BENCH.relative_to(ROOT) / "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), r


def expect(cond, what):
    if not cond:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def check_metrics(res, specs, what):
    for m in specs:
        got = res["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"]
               and isinstance(got["value"], (int, float)),
               f"{what}: {m['name']} printed in {m['unit']}")


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        base = ["--workload", w, "--seed", "1", "--seconds", "3", "--tiny"]

        rc, res, _ = run(base + ["--trace", "0"])
        expect(rc == 0 and res is not None, f"{w}: untraced run exits 0 with a result")
        expect(set(res) == {"correct", "attempted", "failed", "metrics"},
               f"{w}: result has exactly correct/attempted/failed/metrics")
        check_metrics(res, SPEC["end_to_end"], w)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: every op correct ({res['attempted']} attempted)")
        expect(res["metrics"]["ops_ok_frac"]["value"] == 1.0, f"{w}: ops_ok_frac is 1")

        rc, res, _ = run(base + ["--trace", "1"])
        expect(rc == 0 and res is not None, f"{w}: traced run exits 0 with a result")
        check_metrics(res, SPEC["per_layer"], f"{w} traced")
        trace = ROOT / ".bench_build" / "traces" / f"{w}-seed1.json"
        expect(trace.is_file() and json.loads(trace.read_text())["spans"],
               f"{w}: trace file holds spans")

        rc, res, _ = run(base + ["--trace", "0", "--inject-failure"])
        expect(rc == 0 and res is not None, f"{w}: run with an injected failure exits 0")
        expect(res["failed"] >= 1 and not res["correct"]
               and res["metrics"]["ops_ok_frac"]["value"] < 1.0,
               f"{w}: injected failure counted "
               f"(failed={res['failed']}, ops_ok_frac={res['metrics']['ops_ok_frac']['value']})")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None,
           f"without the engine sources the run exits {rc} and prints no result")
    print("selftest passed")


if __name__ == "__main__":
    main()
