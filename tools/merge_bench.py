#!/usr/bin/env python3
"""Merge Bench's self-delimiting chunk lines into the single-object form
scaling_report.py consumes: {'queries': {...}, 'sf': ..., 'reps': ...}.
Usage: python3 tools/merge_bench.py [--partial] <raw_lines_file> <out.json>
Accepts the chunked form (N chunk lines + one total line), the complete
`record` line (Bench's last stdout line, or a BENCH_SELF.json — also one a
killed run left after its last finished pass), or the older single-line
`total` form; fails loudly on missing parts unless --partial is given
(a truncated capture window is then emitted with partial: true — the
common-window input scaling_report --compare consumes)."""
import json, sys

args = sys.argv[1:]
partial_ok = '--partial' in args
args = [a for a in args if a != '--partial']
raw, out = args[0], args[1]
queries, total = {}, None
parts_seen, parts_expected = 0, None
run_id = None  # per-run id stamped on every chunk/total line (r15+)
for line in open(raw):
    line = line.strip()
    if not line or '"metric"' not in line:
        continue
    rec = json.loads(line[line.index('{'):])  # strip any sbt [info] prefix
    # Primary new-run detection: the per-run id CHANGING. Robust against a
    # lost part-1 line (the old part==1 heuristic silently merged the
    # second run's remaining chunks into the stale run when part 1 fell to
    # stdout truncation). Lines without a run id (pre-r15 records) fall
    # back to the part==1 heuristic below.
    rid = rec.get('run')
    if rid is not None and rid != run_id:
        # reset also when a rid-bearing run FOLLOWS pre-r15 (rid-less)
        # lines that already accumulated state: the first rid line sets
        # run_id from None, and without this guard the stale run's queries
        # silently merge into the new run's record (ADVICE r15)
        if run_id is not None or parts_seen > 0 or total is not None:
            queries, total, parts_seen, parts_expected = {}, None, 0, None
        run_id = rid
    if rec.get('metric') == 'chunk':
        # A part-1 chunk after prior state, or any chunk after a completed
        # total, marks a NEW run in the same capture file: drop the stale
        # run's state instead of merging two runs' queries.
        if rid is None and rec.get('part') == 1 and (parts_seen > 0 or total is not None):
            queries, total, parts_seen, parts_expected = {}, None, 0, None
        queries.update(rec['queries'])
        parts_seen += 1
        parts_expected = rec['parts']
    elif rec.get('metric') == 'record':
        # the complete record: self-contained, never merged with stale
        # partial chunks from an aborted prior run
        total = rec
        queries = dict(rec['queries'])
        parts_seen, parts_expected = 0, None
    elif rec.get('metric') == 'total':
        if total is not None:
            # second run in single-line form: the later complete run wins,
            # but never merged with the earlier one's queries
            queries, parts_seen, parts_expected = {}, 0, None
        total = rec
        if 'queries' in rec:  # single-line form: self-contained, never
            # merged with stale partial chunks from an aborted prior run
            queries = dict(rec['queries'])
            parts_seen, parts_expected = 0, None
if total is None:
    sys.exit('no total line found')
truncated = parts_expected is not None and parts_seen != parts_expected
if truncated and not partial_ok:
    sys.exit(f'chunk lines missing: {parts_seen}/{parts_expected}')
merged = {
    'metric': 'total', 'value': total['value'], 'unit': 'sec',
    'reps': total.get('reps'), 'sf': total.get('sf'),
    'nqueries': len(queries), 'queries': queries,
}
if truncated:  # --partial: a capture-window slice, flagged as such
    merged['partial'] = True
    merged['parts_seen'] = parts_seen
    merged['parts_expected'] = parts_expected
if total.get('calib_sec') is not None:  # fixed-work box-speed probe
    merged['calib_sec'] = total['calib_sec']
for k in ('passes', 'counts'):  # a record's passes done and Spark counts
    if k in total:
        merged[k] = total[k]
with open(out, 'w') as f:
    json.dump(merged, f, indent=1)
print(f"{out}: {total['value']}s / {len(queries)} queries / reps={total.get('reps')}")
