#!/usr/bin/env python3
"""Self-test of the benchmark, at smoke size. Run from the checkout root:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it asserts that:
  - an untraced run prints every end-to-end metric and a traced run every
    per-layer metric, each with its declared unit, as the last stdout line
    with exactly the keys correct, attempted, failed and metrics;
  - no operation failed;
  - the same seed gives the same operation checks, a different seed
    different ones of the same shape;
  - every per-layer metric is measured by some workload (not filled with 0);
  - on crawl_steady, at least 90% of job time is attributed to a named
    engine method.
Finally, a copy holding only BENCHMARK.json and perfbench/ must fail
without printing a result. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def run(workload, seed, trace):
    code, lines, err = bench(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", str(trace), "--smoke"])
    assert code == 0 and len(lines) >= 2, f"{workload} seed={seed} trace={trace}: exit {code}\n{err[-3000:]}"
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    measured = set()
    for w in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rec, res = run(w, 1, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, rec, res)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
                first = (rec, res)
            else:
                measured |= set(rec["measured"])
                assert rec["checks"] == first[0]["checks"], f"{w}: same seed, different checks"
                if w == "crawl_steady":
                    frac = res["metrics"]["crawl.attributed_frac"]["value"]
                    assert frac >= 0.9, f"crawl_steady attributed only {frac:.3f} of job time"
        rec2, res2 = run(w, 2, 0)
        assert res2["failed"] == 0
        assert rec2["checks"].keys() == first[0]["checks"].keys(), f"{w}: check shape differs by seed"
        assert rec2["checks"] != first[0]["checks"], f"{w}: seed does not change the inputs"
        print(f"ok {w}", flush=True)
    missing = {m["name"] for m in spec["per_layer"]} - measured
    assert not missing, f"per-layer metrics no workload measures: {sorted(missing)}"

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    code, lines, _ = bench(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(l.startswith("{") for l in lines), "bare copy printed a result"
    print("ok bare copy fails")
    print("selftest passed")


if __name__ == "__main__":
    main()
