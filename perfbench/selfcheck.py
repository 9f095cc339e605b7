#!/usr/bin/env python3
"""Smoke-size self-check of the benchmark.

Run from the root of a checkout:

    python3 perfbench/selfcheck.py

Every workload in BENCHMARK.json runs twice on tiny inputs: once untraced,
where the result must carry every end-to-end metric with its unit, and once
traced with each correctness gate also fed a deliberately corrupted output,
where the result must carry every per-layer metric with its unit, every
gate must catch its corruption, and the span file must be written. Exits
non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    spans = os.path.join(HERE, "out", f"selfcheck-{workload}.json")
    if os.path.exists(spans):
        os.remove(spans)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "smoke",
           "--corrupt", str(trace), "--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stdout}")
    return json.loads(lines[-1]), lines[:-1], spans


def check(workload, trace, expected):
    result, lines, spans = run(workload, trace)
    where = f"{workload} trace={trace}"
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errs.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errs.append(f"attempted={result.get('attempted')}")
    metrics = result.get("metrics", {})
    for m in expected:
        got = metrics.get(m["name"])
        if got is None:
            errs.append(f"metric {m['name']} missing")
        elif got.get("unit") != m["unit"]:
            errs.append(f"metric {m['name']} unit {got.get('unit')} != {m['unit']}")
        elif not isinstance(got.get("value"), (int, float)):
            errs.append(f"metric {m['name']} value {got.get('value')}")
    extra = set(metrics) - {m["name"] for m in expected}
    if extra:
        errs.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    if trace:
        gates = [l for l in lines if l.startswith("gate ")]
        if not gates or any(not l.endswith(": caught") for l in gates):
            errs.append("corrupted outputs not all caught: " + "; ".join(gates))
        if not os.path.exists(spans):
            errs.append(f"span file {spans} not written")
    if errs:
        raise SystemExit(f"{where}: " + "; ".join(errs))
    print(f"ok {where}: {len(expected)} metrics" +
          (f", {sum(l.startswith('gate ') for l in lines)} gates caught their corruption"
           if trace else ""))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        check(w["name"], 0, bench["end_to_end"])
        check(w["name"], 1, bench["per_layer"])
    print("self-check passed")


if __name__ == "__main__":
    main()
