#!/usr/bin/env python3
"""Self-tests of the benchmark, on tiny inputs.

    python3 perfbench/selftest.py            # from the root of a checkout

1. Smoke: each workload, untraced and traced, prints every metric that
   BENCHMARK.json names for that mode, with its unit, and passes its checks.
2. Negative: with --corrupt 1 one row is dropped from every checked output;
   the run must then report correct=false and failed > 0.
3. Coverage: in each traced run's span file, the child spans cover the
   workload span's wall time within COVERAGE_TOL, and the op spans cover
   each traced rep within twice that.

Exits non-zero on the first failure.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
COVERAGE_TOL = 0.05
SEED = 11


def run(workload, trace, *extra):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{cmd} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def covered(span, children):
    """Length of the union of the children's intervals clipped to span."""
    iv = sorted((max(c["start_ns"], span["start_ns"]), min(c["end_ns"], span["end_ns"]))
                for c in children)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def check_coverage(workload):
    spans = json.loads((BENCH / "target" / "trace" / f"{workload}-seed{SEED}.spans.json").read_text())
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    root = next(s for s in spans if s["kind"] == "workload")
    dur = root["end_ns"] - root["start_ns"]
    share = covered(root, kids.get(root["id"], [])) / dur
    assert share >= 1 - COVERAGE_TOL, f"{workload}: children cover {share:.4f} of the workload"
    assert abs(root["self_ns"] - (dur - covered(root, kids.get(root["id"], [])))) <= 1, \
        f"{workload}: recorded self time disagrees with the span file"
    for rep in (s for s in spans if s["kind"] == "rep"):
        d = rep["end_ns"] - rep["start_ns"]
        share = covered(rep, kids.get(rep["id"], [])) / max(1, d)
        assert share >= 1 - 2 * COVERAGE_TOL, f"{workload}: ops cover {share:.4f} of rep {rep['id']}"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{w} trace={trace}: {r}"
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} differ"
            for k, v in r["metrics"].items():
                assert isinstance(v["value"], (int, float)), f"{w}: {k} is not a number"
            print(f"ok   smoke {w} trace={trace}")
        check_coverage(w)
        print(f"ok   coverage {w}")
        r = run(w, 0, "--corrupt", "1")
        assert not r["correct"] and r["failed"] > 0, f"{w}: a dropped row went unnoticed: {r}"
        print(f"ok   negative {w} (failed {r['failed']} of {r['attempted']})")
    print("all self-tests passed")


if __name__ == "__main__":
    main()
