#!/usr/bin/env python3
"""Harness smoke test: every workload of config.json, a tiny sample, the
sf0.001 fixture.

    python3 perfbench/smoke_test.py

For each workload it makes one untraced and one traced run and checks that
  * every end-to-end metric of BENCHMARK.json (and error_rate) is printed by
    name with its unit, and the last line is the result object;
  * every per-layer metric of BENCHMARK.json is printed in the traced run;
  * every digest matched (no failed query);
  * in the traced run, each query's construct + plan + execute reconciles
    with the query's wall time as its client saw it within 10%.
Exits 1 on the first failed check. It then reruns mixed-concurrent without
the one-at-a-time guard (config.json one_at_a_time_keys) and reports how
many queries the known race broke.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOLERANCE = 0.10


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--fixture", "sf0.001", "--keys", "3", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    printed = dict(re.findall(r"^metric (\S+) = \S+ (\S+)", proc.stdout, re.M))
    return json.loads(lines[-1]), printed


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    config = json.load(open(os.path.join(HERE, "config.json")))
    for wl in config["workloads"]:
        for trace, want in ((0, dict(e2e, error_rate="ratio")), (1, layers)):
            res, printed = run(wl, trace)
            tag = f"{wl} trace={trace}"
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            missing = [n for n, u in want.items() if printed.get(n) != u]
            expect(not missing, f"{tag}: metrics printed with units (missing {missing})")
            names = e2e if trace == 0 else layers
            expect(set(res["metrics"]) == set(names), f"{tag}: result metrics are the declared set")
            expect(res["correct"] and res["failed"] == 0, f"{tag}: all {res['attempted']} digests matched")
            if trace:
                share = res["metrics"]["trace.reconcile_max_share"]["value"]
                expect(share <= TOLERANCE,
                       f"{tag}: construct+plan+execute within {TOLERANCE:.0%} of query wall ({share:.3f})")
    # Known defect, reported and not failed: two of the first three
    # mixed-concurrent keys write per-JVM shared state; without the guard
    # the clients run them at once and overwrite each other's files.
    res, _ = run("mixed-concurrent", 0, "--unguarded")
    print(f"info known defect (per-JVM shared state, unguarded): {res['failed']} of "
          f"{res['attempted']} queries failed or returned other rows"
          + ("" if res["failed"] else " -- did not reproduce; is the guard still needed?"))
    print("smoke test passed")


if __name__ == "__main__":
    main()
