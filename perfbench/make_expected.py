#!/usr/bin/env python3
"""Regenerate perfbench/expected/<fixture>.json, the digest table the
benchmark checks every result against.

    python3 perfbench/make_expected.py sf0.01

One JVM (the benchmark's session config, one client) writes the full rows
of every key that has oracle SQL as parquet and records each key's digest.
tools/preflight.py then compares those rows with DuckDB on the same
fixture. Only keys that pass get a digest; the others are listed with the
reason, and the benchmark's pools never draw them.
"""
import json
import os
import re
import subprocess
import sys
import time

import run as bench


def main():
    name = sys.argv[1] if len(sys.argv) > 1 else json.load(open(bench.CONFIG))["fixture"]
    fixture = os.path.join(bench.HERE, "fixture", name)
    jars = bench.spark_jars()
    classes = bench.build(jars)
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    out_dir = os.path.join(bench.BUILD, "verify", name)
    os.makedirs(out_dir, exist_ok=True)
    spec = {"mode": "verify", "fixture": fixture, "cores": bench.nproc(), "verify_dir": out_dir}
    result = bench.Jvm(classpath, spec, time.monotonic() + 3600).run()
    digests = result["digests"]
    pre = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "preflight.py"),
                          fixture, out_dir], stdout=subprocess.PIPE, text=True)
    print(pre.stdout[-2000:])
    rejected = {m.group(2): m.group(1) for m in
                re.finditer(r"^(FAIL|ERR)\s+([a-z0-9_]+)", pre.stdout, re.M)}
    if not re.search(r"^\d+ PASS", pre.stdout, re.M):
        sys.exit("preflight did not finish")
    table = {
        "fixture": name,
        "how": "python3 perfbench/make_expected.py " + name,
        "digest": "rows:sum of XXH64 over each row's UnsafeRow with columns in name order:schema hash",
        "digests": {k: d for k, d in sorted(digests.items())
                    if k not in rejected and not d.startswith("error")},
        "excluded": {k: (f"preflight {rejected[k]}" if k in rejected else d)
                     for k, d in sorted(digests.items())
                     if k in rejected or d.startswith("error")},
    }
    os.makedirs(os.path.join(bench.HERE, "expected"), exist_ok=True)
    with open(os.path.join(bench.HERE, "expected", f"{name}.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(table['digests'])} digests, {len(table['excluded'])} excluded")


if __name__ == "__main__":
    main()
