#!/usr/bin/env python3
"""Compare two traced run records (.bench_build/records/<workload>-s<seed>-t1.json).

    python3 huntbench/diff.py A.json B.json

Prints, per op class, the Spark job, task and Catalyst action counts of both
records, then the store counts. These counts repeat exactly for one tree and
one seed, so any difference is a change in what the program does; the exit
code is 1 if a count differs. Timings are printed beside them for reading
only: they vary from run to run and are not compared.
"""
import json
import sys

COUNTS = ("spark.jobs", "spark.tasks", "catalyst.actions")
STORE = ("store.files", "store.bytes", "store.files_per_table_max", "ingest.objects_out", "journal.lines")
TIMES = ("spark.task_s", "latency.p50_s")


def by_op(metrics):
    """{op_class: {counter: value}} for <counter>.<op_class> names."""
    out = {}
    for name, v in metrics.items():
        for c in COUNTS + TIMES:
            if name.startswith(c + "."):
                out.setdefault(name[len(c) + 1:], {})[c] = v
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    recs = []
    for path in sys.argv[1:]:
        with open(path) as fh:
            recs.append(json.load(fh))
    a, b = (r["metrics"] for r in recs)
    if not all(r["trace"] for r in recs):
        print("note: a record is untraced; it has no counts", file=sys.stderr)
    differ = 0
    oa, ob = by_op(a), by_op(b)
    print(f"{'op class':28} {'counter':18} {'A':>14} {'B':>14}")
    for op in sorted(set(oa) | set(ob)):
        for c in COUNTS + TIMES:
            va, vb = oa.get(op, {}).get(c), ob.get(op, {}).get(c)
            if va is None and vb is None:
                continue
            mark = ""
            if c in COUNTS and va != vb:
                differ += 1
                mark = "  <- differs"
            print(f"{op:28} {c:18} {va if va is not None else '-':>14} {vb if vb is not None else '-':>14}{mark}")
    for c in STORE:
        va, vb = a.get(c), b.get(c)
        if va is None and vb is None:
            continue
        mark = ""
        if va != vb:
            differ += 1
            mark = "  <- differs"
        print(f"{'store':28} {c:18} {va if va is not None else '-':>14} {vb if vb is not None else '-':>14}{mark}")
    print(f"{differ} count(s) differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
