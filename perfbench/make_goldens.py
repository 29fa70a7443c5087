"""Regenerate ``goldens.json``: the expected outputs for one seed.

    python3 perfbench/make_goldens.py [--seed 1]

For the query workloads, every query of the full mix is collected at
the workload's scale and its digest is kept only after it agrees with
the query's DuckDB oracle (all of them, the slow ones included). For
``kg_build``, the digests of every export are kept after the build
passes the planted-truth checks. Run it after a change that is meant to
change results, and review the diff of ``goldens.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed

    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench", f"goldens-{os.getpid()}")
    run.configure_env(work)
    from gen import write_kg_inputs, write_tables
    from kg_etl_spark.session import get_spark
    from workloads import MIX, KgBuild, QueryMix

    with open(run.GOLDENS) as f:
        goldens = json.load(f)
    spark = get_spark("perfbench-goldens")
    try:
        for workload, scale in (("serve_small", "small"), ("analyst_mix", "medium")):
            data = os.path.join(work, scale)
            write_tables(data, seed, scale)
            qm = QueryMix(spark, data, MIX)
            for name in MIX:
                qm.prime(name)
            bad = qm.check_oracles(names=list(qm.oracles))
            if bad:
                print(f"{workload}: disagree with DuckDB: {bad}", file=sys.stderr)
                return 1
            goldens.setdefault(workload, {})[str(seed)] = {
                n: list(qm.reference[n]) for n in MIX}
            print(f"{workload}: {len(MIX)} queries, {len(qm.oracles)} oracle-checked",
                  file=sys.stderr)

        in_dir = os.path.join(work, "kg-in")
        kg = KgBuild(spark, in_dir, write_kg_inputs(in_dir, seed))
        out = os.path.join(work, "kg-out")
        kg.check(kg.run(out), out)
        goldens.setdefault("kg_build", {})[str(seed)] = kg.expected
        print("kg_build: exports checked against the planted truth", file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    with open(run.GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
