#!/usr/bin/env python3
"""Regenerates perfbench/golden.json, the reference result of every
dashboard and heavy_batch query at sf0.1 (row count plus one
order-insensitive hash per column), and cross-checks those results once
against the DuckDB oracle SQL that graft.Verify emits, with the comparison
of tools/check_oracle.py.

    python3 perfbench/golden.py

Run from the repository root, on the commit whose results are the
reference. Writes only under .bench_build/ and perfbench/golden.json.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402


def fingerprints(root, workload):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(root, ".bench_build", "results", f"{workload}-s1-t0.json")) as fh:
        fps = json.load(fh)["fingerprints"]
    missing = set(benchlib.QUERIES[workload]) - set(fps)
    if missing:
        raise SystemExit(f"golden: {workload} queries failed: {sorted(missing)}")
    return fps


def oracle_check(root, classes, data, names):
    out = os.path.join(root, ".bench_build", "oracle")
    shutil.rmtree(out, ignore_errors=True)
    cp = f"{classes}{os.pathsep}{os.path.join(build.spark_jars(root), '*')}"
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    subprocess.run(["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC"] + opens +
                   ["-cp", cp, "graft.Verify", data, out, ",".join(names)],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    check = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, out, "--partial"],
        capture_output=True, text=True)
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    shutil.rmtree(out, ignore_errors=True)
    bad = sorted(set(names) - passed)
    if bad:
        sys.stderr.write(check.stdout)
        raise SystemExit(f"golden: not oracle-exact: {bad}")
    return len(names)


def main():
    root = os.getcwd()
    classes = build.ensure(root)
    data = benchlib.data_dir()
    golden = {}
    for w in ("dashboard", "heavy_batch"):
        golden.update(fingerprints(root, w))
    n = oracle_check(root, classes, data, sorted(golden))
    with open(os.path.join(HERE, "golden.json"), "w") as fh:
        json.dump(dict(sorted(golden.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"golden: {len(golden)} fingerprints written, {n} oracle-exact")


if __name__ == "__main__":
    main()
