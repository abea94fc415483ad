#!/usr/bin/env python3
"""The benchmark's own fast tests. Run from the root of a source checkout:

    python3 perfbench/selftest.py [workload ...]

1. Each workload, at tiny scale, emits every metric BENCHMARK.json names,
   with its unit: the end-to-end ones untraced, the per-layer ones traced.
2. Dropping or duplicating one output line makes the output check fail
   (the checks are not vacuous).
3. The same seed generates byte-identical input; another seed does not.
"""
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]
TINY = ["--seconds", "1", "--scale", "0.05", "--setups", "1"]


def run(workload, *extra):
    r = subprocess.run(RUN + ["--workload", workload] + list(extra),
                       capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} {extra}: exit {r.returncode}\n{r.stderr[-2000:]}")
    return r.stdout.strip().splitlines()


def result(workload, *extra):
    return json.loads(run(workload, *extra)[-1])


def main():
    spec = json.load(open("BENCHMARK.json"))
    # split_gz and graph_rounds are not in BENCHMARK.json (README.md) but
    # are tested too
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]] + ["split_gz", "graph_rounds"]
    failures = []

    def test(label, fn):
        try:
            fn()
            print(f"ok   {label}", flush=True)
        except AssertionError as e:
            failures.append(label)
            print(f"FAIL {label}: {e}", flush=True)

    def emits(w, trace, declared):
        def fn():
            res = result(w, "--seed", "1", "--trace", trace, *TINY)
            assert res["correct"] and res["failed"] == 0, f"checks failed: {res}"
            assert res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"metrics differ: {set(got) ^ set(want)}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), f"{k} has no value"
        return fn

    def mutation(w, kind):
        def fn():
            res = result(w, "--seed", "1", "--trace", "0", "--mutate", kind, *TINY)
            assert not res["correct"] and res["failed"] >= 1, f"check passed a corrupted output: {res}"
        return fn

    def determinism(w):
        def sha(seed):
            line = run(w, "--seed", str(seed), "--gen-only", "1", "--scale", "0.05")[-1]
            assert line.startswith("input_sha256 "), line
            return line.split()[1]

        def fn():
            a, b, c = sha(1), sha(1), sha(2)
            assert a == b, "same seed, different input"
            assert a != c, "different seeds, same input"
        return fn

    for w in names:
        test(f"{w}: end-to-end metrics with units", emits(w, "0", spec["end_to_end"]))
        test(f"{w}: per-layer metrics with units", emits(w, "1", spec["per_layer"]))
        for kind, done in (("drop", "dropped"), ("dup", "duplicated")):
            test(f"{w}: check fails on a {done} line", mutation(w, kind))
        if w != "graph_rounds":  # its tables are fixed; its seed sets the query order
            test(f"{w}: input is a function of the seed", determinism(w))
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
