#!/usr/bin/env python3
"""Determinism self-test of the benchmark.

    python3 perfbench/test_determinism.py

For each workload, runs the benchmark twice at the self-test scale
(--tiny, one timed unit) with the same seed and once with another seed.
The two same-seed runs must agree on every graded output: recall,
duplicate-pair recall, pair counts, index bytes and output fingerprints.
The other seed must give different inputs. Exits non-zero on any mismatch.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("vector_index", "text_dedup")


def record(workload, seed):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "0", "--tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=os.path.dirname(HERE))
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: benchmark exited {r.returncode}")
    for line in r.stderr.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            rec = json.loads(line[len("PERFBENCH_RECORD "):])
            result = json.loads(r.stdout.splitlines()[-1])
            return rec["fingerprints"], result["metrics"]["quality"]["value"]
    raise SystemExit(f"{workload} seed {seed}: no run record")


def main():
    bad = []
    for w in WORKLOADS:
        a, qa = record(w, 7)
        b, qb = record(w, 7)
        c, _ = record(w, 8)
        if a != b or qa != qb:
            bad.append(f"{w}: same seed differs: {a} / {qa} vs {b} / {qb}")
        if a["inputs"] == c["inputs"]:
            bad.append(f"{w}: seeds 7 and 8 gave the same inputs")
        print(f"{w}: same-seed outputs {'match' if a == b else 'DIFFER'}; "
              f"fingerprints {a}", file=sys.stderr)
    for m in bad:
        print("FAIL " + m, file=sys.stderr)
    if bad:
        sys.exit(1)
    print("determinism self-test passed")


if __name__ == "__main__":
    main()
