#!/usr/bin/env python3
"""Re-derive perfbench/expected_fingerprints.json (maintenance tool, not
part of a timed run).

    python3 perfbench/record_expected.py <work dir>

Generates the query tables at the benchmark's scale, dumps the
ops_iterative queries and the two the benchmark's own test runs
(TEST_QUERIES) with graft.Verify, gates the dump with the DuckDB
oracle (scripts/oracle_check.py), and only if every query passes writes
the fingerprint of each dumped result. Run from the repository root.
"""
import json
import os
import subprocess
import sys

import gen
import run

TEST_QUERIES = ["q15_dq_quarantine", "q16_unit_conversion"]


def main():
    work = os.path.abspath(sys.argv[1])
    data, dump, tmp = (os.path.join(work, d) for d in ("tables", "dump", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    run.build()
    gen.tables(data, run.QUERY_SF)
    queries = sorted(set(run.load_json("queries.json")["ops_iterative"]) | set(TEST_QUERIES))
    java = ["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                       f"{run.JAR}:{run.spark_jars()}/*"]
    subprocess.run(java + ["graft.Verify", data, dump] + queries, check=True)
    subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "oracle_check.py"),
                    data, dump] + queries, check=True)
    out = os.path.join(work, "fingerprints.json")
    subprocess.run(java + ["perfbench.DumpFingerprints", dump, out] + queries, check=True)
    with open(out) as f:
        fps = json.load(f)
    with open(os.path.join(run.HERE, "expected_fingerprints.json"), "w") as f:
        json.dump(dict(sorted(fps.items())), f, indent=1)
        f.write("\n")
    print(f"recorded {len(fps)} fingerprints")


if __name__ == "__main__":
    main()
