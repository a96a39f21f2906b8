"""Compare the ledgers of two traced runs, row by row.

    python3 perfbench/diff_ledgers.py A.json B.json
    python3 perfbench/diff_ledgers.py DIR_A DIR_B

Each argument is a ledger written by ``run.py --trace 1`` (under
``.perfbench_out/``) or a directory of them; directories are paired by file
name, i.e. per workload and seed.  For every per-layer metric, every span
name and every top-level operation the two values and their relative change
are printed.  Counters that repeat exactly between runs of the same code and
seed -- jobs, stages, tasks, shuffle bytes and records -- are flagged when
they differ; times are only reported.  Exits 1 if anything was flagged.
"""

from __future__ import annotations

import json
import os
import sys

EXACT = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
         "shuffle_write_records")
EXACT_METRICS = {f"spark.{k}" for k in EXACT} | {"plans.build_jobs", "plans.exec_jobs"}


def _rel(a: float, b: float) -> str:
    if a == b:
        return "="
    return f"{(b - a) / a:+.1%}" if a else "new"


def _ops_by_name(ops: list[dict]) -> dict[str, dict]:
    """Top-level operations keyed by name and occurrence: ``op:x#2`` is the
    second run of ``op:x`` in the ledger."""
    seen: dict[str, int] = {}
    out = {}
    for op in ops:
        seen[op["op"]] = seen.get(op["op"], 0) + 1
        out[f"{op['op']}#{seen[op['op']]}"] = op
    return out


def diff(a: dict, b: dict, out=sys.stdout) -> int:
    """Print the differences between ledgers ``a`` and ``b``; return the
    number of flagged exact counters."""
    flagged = 0

    def row(section: str, key: str, va, vb, exact: bool) -> None:
        nonlocal flagged
        bad = exact and va != vb
        flagged += bad
        mark = "FLAG" if bad else "    "
        print(f"{mark} {section:7s} {key:48s} {va!s:>16} {vb!s:>16} {_rel(va, vb):>8}", file=out)

    print(f"== {a['workload']} seed {a['seed']} vs {b['workload']} seed {b['seed']}", file=out)
    ma, mb = a["metrics"], b["metrics"]
    for k in sorted(set(ma) | set(mb)):
        va, vb = ma.get(k, {}).get("value", 0), mb.get(k, {}).get("value", 0)
        row("metric", k, _round(va), _round(vb), k in EXACT_METRICS)
    sa, sb = a["rows"]["spans"], b["rows"]["spans"]
    for name in sorted(set(sa) | set(sb)):
        ra, rb = sa.get(name, {}), sb.get(name, {})
        row("span", f"{name} calls", ra.get("calls", 0), rb.get("calls", 0), False)
        row("span", f"{name} self_s", _round(ra.get("self_s", 0)), _round(rb.get("self_s", 0)), False)
        for k in EXACT:
            row("span", f"{name} {k}", ra.get(k, 0), rb.get(k, 0), True)
    oa, ob = _ops_by_name(a["rows"]["ops"]), _ops_by_name(b["rows"]["ops"])
    for name in sorted(set(oa) | set(ob)):
        ra, rb = oa.get(name, {}), ob.get(name, {})
        row("op", f"{name} wall_s", _round(ra.get("wall_s", 0)), _round(rb.get("wall_s", 0)), False)
        for k in EXACT:
            row("op", f"{name} {k}", ra.get(k, 0), rb.get(k, 0), True)
    return flagged


def _round(v):
    return round(v, 4) if isinstance(v, float) else v


def _pairs(pa: str, pb: str) -> list[tuple[str, str]]:
    if os.path.isdir(pa) and os.path.isdir(pb):
        names = sorted(set(os.listdir(pa)) & set(os.listdir(pb)))
        return [(os.path.join(pa, n), os.path.join(pb, n)) for n in names if n.endswith(".json")]
    return [(pa, pb)]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    flagged = 0
    for fa, fb in _pairs(*argv):
        with open(fa) as f:
            a = json.load(f)
        with open(fb) as f:
            b = json.load(f)
        flagged += diff(a, b)
    print(f"{flagged} exact counter(s) differ", file=sys.stdout)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
