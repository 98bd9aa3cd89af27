#!/usr/bin/env python3
"""Self-test of the answer check.

Corrupts one expected digest, runs that query's workload briefly, and
passes only if the run reports wrong_frac > 0 for exactly that query and
exits non-zero. Usage (from the repository root):

  python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_digests.tsv")
OUT = os.path.join(HERE, "out")


def main():
    lines = open(EXPECTED).read().splitlines()
    workload, query, digest = lines[0].split("\t")
    corrupt = digest[:-1] + ("1" if digest[-1] != "1" else "2")
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, "selftest_digests.tsv")
    with open(path, "w") as f:
        f.write("\n".join([f"{workload}\t{query}\t{corrupt}"] + lines[1:]) + "\n")
    seed = 1
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", "0", "--expected", path],
                       capture_output=True, text=True)
    record = json.load(open(os.path.join(OUT, f"{workload}-seed{seed}-trace0.json")))
    result = json.loads(r.stdout.strip().splitlines()[-1])
    ok = (r.returncode != 0 and record["wrong"] == [query]
          and record["wrong_frac"] > 0 and result["correct"] is False)
    print(f"corrupted {query} ({workload}): rc={r.returncode} "
          f"wrong={record['wrong']} wrong_frac={record['wrong_frac']:.3f} "
          f"correct={result['correct']} -> {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
