#!/usr/bin/env python3
"""Per-query Spark counts of two Bench records, side by side.

Usage: python3 tools/bench_diff.py <old> <new>
Each argument is a Bench record: a BENCH_SELF.json, a capture of Bench's
stdout (its last `record` line is used), a BENCH_HISTORY.jsonl (its last
line) or a merge_bench.py output. Prints every query whose jobs, tasks or
shuffle bytes differ, then the queries present in only one record. Exits 1
if it printed any difference, 0 if the two records' counts are identical.
"""
import json
import sys

KEYS = ('jobs', 'tasks', 'shuffle_bytes')


def load(path):
    text = open(path).read()
    try:
        recs = [json.loads(text)]
    except ValueError:
        recs = []
        for line in text.splitlines():
            if '{' in line:
                try:
                    recs.append(json.loads(line[line.index('{'):]))  # strip an sbt prefix
                except ValueError:
                    pass
    recs = [r for r in recs if isinstance(r, dict) and 'counts' in r]
    if not recs:
        sys.exit(f'{path}: no Bench record with counts')
    return recs[-1]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    co, cn = old['counts'], new['counts']
    diffs = 0
    print(f"old: {sys.argv[1]} (run {old.get('run')}, passes {old.get('passes')}, {len(co)} queries)")
    print(f"new: {sys.argv[2]} (run {new.get('run')}, passes {new.get('passes')}, {len(cn)} queries)")
    for q in sorted(set(co) & set(cn)):
        moved = [f'{k} {co[q].get(k)} -> {cn[q].get(k)}' for k in KEYS if co[q].get(k) != cn[q].get(k)]
        if moved:
            diffs += 1
            print(f'{q:32s} ' + ', '.join(moved))
    for label, only in (('old', sorted(set(co) - set(cn))), ('new', sorted(set(cn) - set(co)))):
        if only:
            diffs += len(only)
            print(f'only in {label}: ' + ' '.join(only))
    common = len(set(co) & set(cn))
    print(f'{common} common queries, {diffs} differences')
    sys.exit(1 if diffs else 0)


if __name__ == '__main__':
    main()
