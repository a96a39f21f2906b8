"""Record the query workloads' goldens from the current engine.

    python3 perfbench/record_goldens.py cube_queries 1 2 3 ...

For each seed, generates that seed's inputs, runs every query of the
workload once with ``collect`` and stores its ``(rows, hash)`` summary in
``perfbench/goldens.json`` under ``[workload][seed][query]``.  A seed is
recorded only if every query ran and each result agrees with the query's
DuckDB oracle where it has one, so a run may check a query against its
golden alone.  Run it from
the repository root on a commit whose results are trusted; later runs of the
benchmark on those seeds then compare against it.
"""

from __future__ import annotations

import json
import os
import sys


def main(argv: list[str]) -> int:
    import run

    run._environment()
    import check
    import workloads
    from datawarehouse_code_spark.session import get_spark

    workload, seeds = argv[0], [int(s) for s in argv[1:]]
    goldens = check.load_goldens()
    spark = get_spark("perfbench-goldens", cpus=str(len(os.sched_getaffinity(0))))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for seed in seeds:
            wl = workloads.make(workload, seed)
            b = workloads.Bench(os.path.join(run.WORK, f"seed{seed}"), seed, trace=False)
            wl.make_inputs(b)
            wl.prepare(spark, b)
            got = {name: check.summarize(*wl.results[name]) for name in sorted(wl.results)}
            oracle = check.oracle_summaries(wl._registry(), wl.order, wl.sf_dir)
            wrong = {name: (got.get(name), s) for name, s in oracle.items() if got.get(name) != s}
            if b.failures or wrong:
                raise SystemExit(f"{workload} seed {seed}: not recorded; "
                                 f"failures {b.failures}, disagrees with the oracle: {wrong}")
            goldens.setdefault(workload, {})[str(seed)] = {k: list(v) for k, v in got.items()}
            print(f"[perfbench] recorded {workload} seed {seed}", file=sys.stderr)
    finally:
        run._stop()
    with open(check.GOLDENS_PATH, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
