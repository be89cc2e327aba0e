#!/usr/bin/env python3
"""The benchmark's self-test, on the small sf0.001 image:

  - every metric BENCHMARK.json names is printed, with its unit, by an
    untraced and a traced run;
  - a corrupted verified digest and an injected throwing query each
    count as a failure;
  - an injected pin that is never released reads as
    operators.pins_leaked > 0;
  - with only BENCHMARK.json and the benchmark's own files present, the
    benchmark exits non-zero without printing a result.

    python3 perfbench/selftest.py      # from the root of the checkout
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOAD = "selftest-sf0.001"
SEED = 9001


def bench(*extra, trace=0, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", WORKLOAD, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace)] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 else None), p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        expect.failed += 1


expect.failed = 0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    image_dir = os.path.join(WORK, "images", f"sf0.001-s{SEED}")
    shutil.rmtree(image_dir, ignore_errors=True)

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, res, err = bench(trace=trace)
        expect(code == 0 and res is not None, f"trace {trace} run exits 0 ({err[-500:]})")
        if res is None:
            continue
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] == 2,
               f"trace {trace} run is correct: {res['correct']}, "
               f"{res['failed']}/{res['attempted']} failed")
        for m in spec[key]:
            got = res["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"] and
                   isinstance(got["value"], (int, float)),
                   f"trace {trace} prints {m['name']} in {m['unit']}: {got}")
        expect(set(res["metrics"]) == {m["name"] for m in spec[key]},
               f"trace {trace} prints no metric BENCHMARK.json does not name")

    # a verified digest that no longer matches the output
    path = os.path.join(image_dir, "verified.json")
    with open(path) as fh:
        verified = json.load(fh)
    verified["q_filter"] = "0:0:0"
    with open(path, "w") as fh:
        json.dump(verified, fh)
    code, res, _ = bench()
    expect(res is not None and not res["correct"] and res["failed"] == 1,
           f"corrupted digest counts as a failure: {res and res['failed']}")

    code, res, _ = bench("--inject-throw", "q_minhash_pairs")
    expect(res is not None and not res["correct"] and res["failed"] == 2,
           f"throwing query counts as a failure (with the corrupt digest): "
           f"{res and res['failed']}")

    code, res, _ = bench("--inject-leak", "q_minhash_pairs", trace=1)
    leaked = res and res["metrics"]["operators.pins_leaked"]["value"]
    expect(res is not None and leaked and leaked > 0,
           f"unreleased pin reads operators.pins_leaked = {leaked}")
    shutil.rmtree(image_dir, ignore_errors=True)

    # only BENCHMARK.json and the benchmark's own files
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(
        ".work", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, err = bench(cwd=bare)
    expect(code != 0 and res is None,
           f"bare directory exits {code} without a result ({err.strip()[-200:]})")
    shutil.rmtree(bare, ignore_errors=True)

    print("self-test " + ("passed" if expect.failed == 0 else f"FAILED {expect.failed} checks"))
    sys.exit(1 if expect.failed else 0)


if __name__ == "__main__":
    main()
