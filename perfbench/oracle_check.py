#!/usr/bin/env python3
"""Regenerate the committed result fingerprints and cross-check them
against the DuckDB oracle.

For each table scale (the benchmark's and the smoke mode's), the benchmark
dumps every query result of `queries-llm` to parquet together with its
fingerprint (row count plus the order-independent hash the benchmark
checks); the dump fails if the cold and the warm run of a query disagree.
`tools/compare_oracle.py` then compares each dumped result with the
query's oracle SQL (`SparkEntry.oracleSql`) run by DuckDB over the same
tables. The fingerprint files record the verdict per query: `pass`, the
failure message, or `none` when the query has no oracle SQL.

Run it after a change that legitimately changes a query's result:
    python3 perfbench/oracle_check.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def verdicts(dump_dir, tables):
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                          dump_dir, tables], stdout=subprocess.PIPE, text=True, check=True).stdout
    res = {}
    passed = re.search(r"^PASS \(\d+\):(.*)$", out, re.M)
    for n in (passed.group(1).split() if passed else []):
        res[n] = "pass"
    for m in re.finditer(r"^  (q_\S+): (.*)$", out, re.M):
        res[m.group(1)] = "fail: " + m.group(2)
    return res


def main():
    for smoke, name in ((False, "fingerprints.json"), (True, "fingerprints-smoke.json")):
        dump = os.path.join(run.WORK, "oracle", "smoke" if smoke else "bench")
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "queries-llm", "--dump", dump]
        subprocess.run(cmd + (["--smoke-scale"] if smoke else []), check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(dump, "fingerprints.json")) as f:
            fps = json.load(f)
        v = verdicts(dump, run.tables_for(run.SMOKE_SCALE if smoke else run.TABLE_SCALE))
        merged = {q: dict(fp, oracle=v.get(q, "none")) for q, fp in fps.items()}
        with open(os.path.join(HERE, name), "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
            f.write("\n")
        bad = {q: e["oracle"] for q, e in merged.items() if e["oracle"].startswith("fail")}
        print(f"{name}: {len(merged)} queries, "
              f"{sum(e['oracle'] == 'pass' for e in merged.values())} match the oracle, "
              f"{sum(e['oracle'] == 'none' for e in merged.values())} have none, failures: {bad}")


if __name__ == "__main__":
    main()
