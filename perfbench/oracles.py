#!/usr/bin/env python3
"""Regenerate DuckDB's reference fingerprints for the benchmark's checks.

Usage (from the root of a checkout):  python3 perfbench/oracles.py

Builds like run.py, makes the benchmark's inputs, asks the harness for the
oracle SQL (every SparkEntry.oracleSql entry, and the seven catalog-gated
conformance jobs rendered by ConformanceSql.render for each nightly
window), runs it in DuckDB and writes perfbench/fingerprints/catalog.json
and nightly.json. Runs compare graft's outputs with these fingerprints,
never with a saved copy of graft's own output.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "work", f"oracles-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen_data.generate(data, run.SCALE, run.DATA_SEED)
        argv = ["--workload", "oracles", "--seed", "0", "--data", data, "--work", work,
                "--cores", str(run.CORES)]
        res = run.Jvm(cp, work, argv, lambda req: []).wait(900)
        with open(res["oracles"]) as f:
            sql = json.load(f)
        con = checks.connect(data)
        catalog = {}
        for name, q in sorted(sql["catalog"].items()):
            catalog[name] = checks.canonical(con.sql(q))
            print(f"catalog {name}: {catalog[name]['rows']} rows", file=sys.stderr)
        nightly = {}
        for w, jobs in sorted(sql["nightly"].items()):
            nightly[w] = {}
            for job, q in sorted(jobs.items()):
                nightly[w][job] = checks.canonical(con.sql(q), with_types=False)
                print(f"nightly window {w} {job}: {nightly[w][job]['rows']} rows",
                      file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "fingerprints"), exist_ok=True)
    for kind, fp in (("catalog", catalog), ("nightly", nightly)):
        with open(os.path.join(HERE, "fingerprints", f"{kind}.json"), "w") as f:
            json.dump(fp, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
