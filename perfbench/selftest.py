#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 tables, ~0.1 MB corpus).

    python3 perfbench/selftest.py

Proves two things, from the root of a checkout:

1. every workload emits every metric that BENCHMARK.json names: all
   end-to-end metrics with `--trace 0`, all per-layer metrics with
   `--trace 1`, each with its unit, and `correct: true`;
2. the output checks catch a wrong output: one flipped MapReduce line and
   one dropped query row must each give `correct: false`, a nonzero
   `failed` count and a nonzero exit code.

Exits 0 when all of this holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--corpus-mb", "0.1", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return p.returncode, None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in sorted(WORKLOADS):
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            rc, out = run(w, trace)
            if rc != 0 or out is None or not out["correct"] or out["failed"]:
                problems.append(f"{w} trace={trace}: rc={rc} result={out}")
                continue
            for m in bench[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or "
                                    f"wrong unit ({got})")
            extra = set(out["metrics"]) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{w} trace={trace}: metrics not in BENCHMARK.json: {extra}")
            print(f"ok   {w} trace={trace}: {len(out['metrics'])} metrics, "
                  f"{out['attempted']} ops checked", flush=True)
    for w, corrupt in [("mr_text", "mr"), ("iterative", "query")]:
        rc, out = run(w, 0, ["--corrupt", corrupt])
        if rc == 0 or out is None or out["correct"] or not out["failed"]:
            problems.append(f"corrupted {corrupt} output NOT caught: rc={rc} result={out}")
        else:
            print(f"ok   corrupted {corrupt} output caught: {out['failed']} failed, rc={rc}",
                  flush=True)
    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
