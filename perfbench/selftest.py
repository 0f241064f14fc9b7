#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting and metric names.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
  1. every metric in BENCHMARK.json has a name matching [A-Za-z0-9_.-]+
     and a unit;
  2. a run with a query that throws reports ok_frac < 1, failures, and
     correct = false, and every metric it prints is declared with the
     unit it declares;
  3. a run whose pinned fingerprint is corrupted does the same;
  4. a traced run with the injected throw prints only declared
     per-layer metrics;
  5. a clean run, untraced and traced, reports correct = true and
     ok_frac = 1.0, and prints every declared metric of its group.
Each run is one short batch_driver JVM, so the test takes a few minutes.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out = {}
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            assert NAME.fullmatch(m["name"]), f"bad metric name {m['name']!r}"
            assert m.get("unit"), f"metric {m['name']} has no unit"
            out[(group, m["name"])] = m["unit"]
    return out


def run(*extra, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_driver",
           "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, f"{cmd} exited {r.returncode}: {r.stderr[-2000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_printed(res, units, group, what):
    for name, m in res["metrics"].items():
        assert units.get((group, name)) == m["unit"], \
            f"{what}: metric {name} ({m['unit']}) is not declared in {group}"


def check_passed(res, units, group, what):
    assert res["correct"] and res["failed"] == 0, f"{what}: run did not pass: {res}"
    check_printed(res, units, group, what)
    missing = [n for g, n in units if g == group and n not in res["metrics"]]
    assert not missing, f"{what}: declared {group} metrics not printed: {missing}"
    if group == "end_to_end":
        ok = res["metrics"]["ok_frac"]["value"]
        assert ok == 1.0, f"{what}: ok_frac is {ok}"
    print(f"ok: {what}: {res['attempted']} operations passed, "
          f"all {len(res['metrics'])} {group} metrics printed")


def check_failed(res, units, group, what):
    assert res["failed"] > 0 and not res["correct"], f"{what}: failure not reported: {res}"
    check_printed(res, units, group, what)
    if group == "end_to_end":
        ok = res["metrics"]["ok_frac"]["value"]
        assert ok < 1.0, f"{what}: ok_frac is {ok}"
        assert ok == (res["attempted"] - res["failed"]) / res["attempted"]
    print(f"ok: {what}: {res['failed']} of {res['attempted']} operations failed")


def main():
    units = declared()
    print(f"ok: {len(units)} declared metrics have valid names and units")
    check_failed(run("--inject-throw"), units, "end_to_end", "injected throwing query")
    check_failed(run("--corrupt-fingerprint"), units, "end_to_end", "corrupted fingerprint")
    check_failed(run("--inject-throw", trace=1), units, "per_layer", "traced run")
    check_passed(run(), units, "end_to_end", "clean run")
    check_passed(run(trace=1), units, "per_layer", "clean traced run")


if __name__ == "__main__":
    main()
