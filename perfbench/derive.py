#!/usr/bin/env python3
"""Re-derive perfbench/expected.json, the fingerprints the benchmark checks
query outputs against:

    python3 perfbench/derive.py

1. graft.Verify writes every key's output over perfbench/data/sf0.01;
2. scripts/compare.py checks each against its DuckDB oracle SQL;
3. perfbench.Main --fingerprint hashes every key's output twice in one JVM.
A key's fingerprint is kept only if the oracle accepted its output and both
hashes agree. Run it again only when the data or a key's defined output
changes.
"""
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DATA = f"{run.BENCH_DIR}/data/sf0.01"


def main():
    jars = run.spark_jars()
    run.build(jars)
    work = f"{run.OUT}/derive"
    os.makedirs(work, exist_ok=True)
    if run.jvm(jars, [], [DATA, f"{work}/verify"], f"{work}/verify.log", 3600,
               main="graft.Verify") != 0:
        sys.exit(f"graft.Verify failed; see {work}/verify.log")
    cmp = subprocess.run([sys.executable, "scripts/compare.py", DATA, f"{work}/verify"],
                         capture_output=True, text=True)
    with open(f"{work}/compare.log", "w") as fh:
        fh.write(cmp.stdout + cmp.stderr)
    passed = set(re.findall(r"^PASS (\S+)$", cmp.stdout, re.M))
    if run.jvm(jars, [], ["--fingerprint", DATA, "--scratch", work, "--out",
                          f"{work}/fingerprints.json"], f"{work}/fingerprint.log", 3600) != 0:
        sys.exit(f"fingerprinting failed; see {work}/fingerprint.log")
    with open(f"{work}/fingerprints.json") as fh:
        fps = json.load(fh)
    keep = {k: v[0] for k, v in sorted(fps.items()) if k in passed and v[0] and v[0] == v[1]}
    left_out = {k: ("oracle" if k not in passed else "unstable") for k in fps if k not in keep}
    with open(f"{run.BENCH_DIR}/expected.json", "w") as fh:
        json.dump({"data": DATA, "fingerprint": "[rows, sum of low 32 bits, sum of high 32 bits] "
                   "of xxhash64 over every output column",
                   "left_out": left_out, "fingerprints": keep}, fh, indent=1, sort_keys=True)
    print(f"{len(keep)} fingerprints kept; left out: {left_out}")


if __name__ == "__main__":
    main()
