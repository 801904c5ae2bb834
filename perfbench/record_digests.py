#!/usr/bin/env python3
"""Record the registry_batch result digests, cross-checked with DuckDB.

    python3 perfbench/record_digests.py

Run from the repository root. For every dataset variant it runs the 15
registry entries once, writes their results in the layout
tools/check_oracle.py reads, compares them with each entry's DuckDB
oracle SQL (SparkEntry.oracleSql), and rewrites
perfbench/registry_digests.json. A variant whose oracle check fails is
reported and its digests are not recorded.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
import run  # noqa: E402

ENTRIES = 15


def main():
    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = run.build(root, out_dir)
    digests, ok = {}, True
    for v in range(gen_tables.VARIANTS):
        data, _ = run.registry_data(root, out_dir, v)
        work = os.path.join(out_dir, "work", f"record-v{v}")
        results = os.path.join(work, "results")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(results)
        cmd = run.java_cmd(cp, work, [
            "--workload", "registry_batch", "--seed", str(v), "--seconds", "1",
            "--data", data, "--variant", str(v), "--digests", "-",
            "--record", results])
        out = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                             timeout=600).stdout
        got = dict(l.split()[1:3] for l in out.splitlines()
                   if l.startswith("PERFBENCH_DIGEST "))
        check = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, results],
            stdout=subprocess.PIPE, text=True)
        print(f"variant {v}:\n{check.stdout}")
        if check.returncode != 0 or len(got) != ENTRIES:
            ok = False
            continue
        digests.update(got)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(root, "perfbench", "registry_digests.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
